package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.PorterStemmer
import graft.operators.Iterate.CutOps

/** Text-analysis operator pack over the `documents` table.
  *
  * Re-expresses the reference's caption→topics text chain (SURVEY.md §2.6:
  * tokenize T3, normalize T4, stem T5, stopword-drop T6, word-frequency A1,
  * top-k terms A4/T9, sentence split T2) and adds the training-data-pipeline
  * text ops the engine generalizes to: language ID, quality scoring, token
  * counting, document fingerprinting.
  *
  * Everything except stemming is pure builtin expressions (codegen'd,
  * shuffle only at the aggregations), so plans scale linearly with input:
  * per-document work is embarrassingly parallel, aggregations are hash
  * aggs with map-side partial combine.
  */
object TextAnalytics extends graft.QueryPack {

  /** Load and merge stopword lists from one-word-per-line files —
    * duplicates dropped, deterministic sorted order (the reference's
    * EN∪ES concat+merge, module/instagram/lda/index.js:23-28, as a
    * library function). */
  def loadStopwords(paths: Seq[String]): Seq[String] =
    paths.flatMap { p =>
      // fail with the offending PATH in the message — an unreadable
      // override file otherwise surfaces as an opaque
      // ExceptionInInitializerError from whichever query touches this
      // object first
      val src =
        try scala.io.Source.fromFile(p, "UTF-8")
        catch { case e: java.io.IOException =>
          throw new IllegalArgumentException(
            s"graft stopword override file not readable: $p " +
              "(from graft.stopwords.files)", e)
        }
      try src.getLines().map(_.trim).filter(_.nonEmpty).toList
      finally src.close()
    }.distinct.sorted

  /** EN∪ES stopword union (reference merges English+Spanish lists,
    * module/instagram/lda/index.js:23-28). Default: Spark ML's bundled
    * stopword resources (public Spark data files) rather than copying
    * the reference's 1,400-line lists — a DOCUMENTED divergence.
    * Reference-verbatim mode: set the `graft.stopwords.files` system
    * property to a comma-separated list of one-word-per-line files — e.g. the reference's own
    * stopwords_en/stopwords_es dumped to text — and every stopword-
    * dependent operator (T6 filter, topics, tf/tf-idf, quality score)
    * reproduces its exact semantics. Deterministic order either way,
    * for stable SQL-literal generation. */
  private[graft] def resolveStopwords(overridePaths: Option[String]): Seq[String] =
    overridePaths
      .map(ps => loadStopwords(ps.split(',').toSeq.map(_.trim).filter(_.nonEmpty)))
      .getOrElse(
        (org.apache.spark.ml.feature.StopWordsRemover.loadDefaultStopWords("english") ++
          org.apache.spark.ml.feature.StopWordsRemover.loadDefaultStopWords("spanish"))
          .toSeq.distinct.sorted)

  /** lazy: a bad override path fails only the stopword-dependent
    * operators (with the path in the message), not — via an
    * ExceptionInInitializerError on this object — every TextAnalytics
    * query. */
  lazy val stopwords: Seq[String] =
    resolveStopwords(sys.props.get("graft.stopwords.files"))

  /** Marker words per language for the n-gram/marker language-ID heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "with", "fast", "slow"),
    "es" -> Seq("el", "la", "de", "que", "es", "por", "una"),
    "fr" -> Seq("le", "les", "et", "des", "est", "pour", "une"),
    "de" -> Seq("der", "die", "und", "ist", "mit", "ein", "nicht"))

  private[operators] def sqlList(xs: Seq[String]): String =
    xs.map(x => "'" + x.replace("'", "''") + "'").mkString("(", ", ", ")")

  /** The marker-word language scorer + fixed-tie argmax shared by
    * q_lang_id (per-doc listing) and q_langid_eval (accuracy rollup) —
    * one classifier definition, two readers. */
  private def langScored(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    def score(lang: String): Column =
      size(filter(toks, t => t.isInCollection(langMarkers(lang)))).cast("long")
    val en = score("en"); val es = score("es")
    val fr = score("fr"); val de = score("de")
    Tables(s, d, "documents").select(
      col("doc_id"), col("lang").as("labeled_lang"),
      en.as("s_en"), es.as("s_es"), fr.as("s_fr"), de.as("s_de"),
      when(en >= es && en >= fr && en >= de, "en")
        .when(es >= fr && es >= de, "es")
        .when(fr >= de, "fr").otherwise("de").as("pred_lang"))
  }

  /** Tokens of lowercased, whitespace-split text (T3+T4 simplified to the
    * testdata's already-clean text). */
  private[operators] def tokens(c: Column): Column = split(lower(c), " ")

  /** BM25 (Robertson–Spärck Jones) scoring KERNEL shared by q_bm25 and
    * q_retrieval_eval: score every document against `terms`, emitting
    * (doc_id, tf_<t>… as longs, score as double). Corpus stats (N,
    * avgdl, per-term df) are ONE 1-row aggregate over exact integers —
    * broadcast scalars, never corpus-sized broadcasts — and scoring is
    * a narrow per-doc codegen map, so the layout holds at 100 TB.
    * Determinism: avgdl divides two exact longs; per-term contributions
    * are rounded at 9 decimals and summed as DECIMAL in fixed term
    * order (the q_lm_score technique), so Spark and DuckDB agree
    * bit-for-bit. */
  /** Tokenized (doc_id, toks, dl) frame the BM25 family scores. */
  private[operators] def bm25Docs(s: SparkSession, d: String): DataFrame =
    bm25DocsFrom(Tables(s, d, "documents"))

  /** [[bm25Docs]] over an arbitrary (doc_id, text) frame — the form a
    * micro-batch feeds (q_stream_bm25_admission's fold tokenizes each
    * arriving slice through the SAME kernel). */
  private[operators] def bm25DocsFrom(docs: DataFrame): DataFrame = {
    val toksE = tokens(col("text"))
    docs.select(col("doc_id"), toksE.as("toks"),
      size(toksE).cast("long").as("dl"))
  }

  /** The stored-index statistics of a BM25 index over `docs`: one
    * 1-row aggregate of EXACT LONGS (doc count, total length, per-term
    * document frequency) — the mergeable form: two indexes' stats add
    * component-wise, which is what q_bm25_incremental exploits. */
  private[operators] def bm25Stats(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val aggs =
      count(lit(1)).as("nd") +:
        sum(col("dl")).as("sdl") +:
        terms.map(t => sum(when(array_contains(col("toks"), t), 1L)
          .otherwise(0L)).as(s"dfl_$t"))
    docs.agg(aggs.head, aggs.tail: _*)
  }

  private[operators] def bm25Scored(
      s: SparkSession, d: String, terms: Seq[String]): DataFrame = {
    val docs = bm25Docs(s, d)
    bm25ScoreWith(docs, bm25Stats(docs, terms), terms)
  }

  /** Score `docs` against `terms` under a GIVEN stats row (exact-long
    * columns nd/sdl/dfl_<t>) — the kernel tail shared by the
    * whole-corpus path and the incremental-admission path. */
  private[operators] def bm25ScoreWith(docs: DataFrame, statsL: DataFrame,
      terms: Seq[String]): DataFrame = {
    val K1 = 1.2d; val B = 0.75d
    val stats = statsL.select(
      col("nd").cast("double").as("n_docs") +:
        col("sdl").cast("double").as("sum_dl") +:
        terms.map(t => col(s"dfl_$t").cast("double").as(s"df_$t")): _*)
    val scored = docs.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
    val tf = terms.map(t =>
      size(filter(col("toks"), x => x === t)).cast("double").as(s"tf_$t"))
    val withTf = scored.select(
      Seq(col("doc_id"), col("dl"), col("n_docs"), col("avgdl")) ++
        terms.map(t => col(s"df_$t")) ++ tf: _*)
    def contrib(t: String) = {
      val idf = log(lit(1.0d) +
        (col("n_docs") - col(s"df_$t") + 0.5d) / (col(s"df_$t") + 0.5d))
      // inner term folds to (0.25 + ((dl*0.75)/avgdl)) — identical
      // association (and thus bits) to the oracle's SQL
      val satur = col(s"tf_$t") * (K1 + 1.0d) /
        (col(s"tf_$t") +
          lit(K1) * (lit(1.0d - B) + col("dl").cast("double") * B / col("avgdl")))
      round(idf * satur, 9).cast(DecimalType(15, 9))
    }
    withTf.select(
      Seq(col("doc_id")) ++
        terms.map(t => col(s"tf_$t").cast("long").as(s"tf_$t")) :+
        terms.map(contrib).reduce(_ + _).cast("double").as("score"): _*)
  }

  /** NDCG rank discounts 1/log2(i+1) for i = 1..10, rounded at 9
    * decimals — the ONE place the transcendental is evaluated; both
    * the Spark plan and the generated oracle consume these as
    * literals (q_ndcg). */
  private[operators] val ndcgDiscounts: Seq[Double] =
    (1 to 10).map(i =>
      math.rint(1e9 / (math.log(i + 1.0) / math.log(2.0))) / 1e9)

  /** The scored CTE of [[bm25Scored]] restated for the DuckDB oracle,
    * parameterized on the term list — emitted verbatim into oracle SQL
    * so kernel and oracle stay one definition. Yields columns
    * doc_id, tf_<t>… (BIGINT), score (DOUBLE). */
  private[operators] def bm25ScoredSqlDuck(
      terms: Seq[String], sfx: String = ""): String = {
    def df(t: String) =
      s"""CAST(SUM(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END)
         |      AS DOUBLE) AS df_$t""".stripMargin
    def tf(t: String) =
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf_$t"
    def contrib(t: String) =
      s"""CAST(round(ln(CAST(1 AS DOUBLE) +
         |        (n_docs - df_$t + CAST(0.5 AS DOUBLE)) / (df_$t + CAST(0.5 AS DOUBLE))) *
         |      (tf_$t * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE)) /
         |       (tf_$t + CAST(1.2 AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
         |        CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))), 9) AS DECIMAL(15,9))""".stripMargin
    s"""bmdocs$sfx AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       |bmd2$sfx AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM bmdocs$sfx),
       |bmstats$sfx AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) AS sum_dl,
       |    ${terms.map(df).mkString(",\n    ")}
       |  FROM bmd2$sfx),
       |bmscored$sfx AS (
       |  SELECT doc_id, dl,
       |    ${terms.map(tf).mkString(",\n    ")},
       |    n_docs, sum_dl / n_docs AS avgdl,
       |    ${terms.map(t => s"df_$t").mkString(", ")}
       |  FROM bmd2$sfx, bmstats$sfx),
       |bmfinal$sfx AS (
       |  SELECT doc_id,
       |    ${terms.map(t => s"CAST(tf_$t AS BIGINT) AS tf_$t").mkString(",\n    ")},
       |    CAST(
       |    ${terms.map(contrib).mkString(" +\n    ")}
       |  AS DOUBLE) AS score
       |  FROM bmscored$sfx)""".stripMargin
  }

  /** T6 keep-predicate applied to a token lambda variable. */
  private[operators] def keepToken(t: Column): Column =
    (length(t) > 1) && !t.startsWith("http") && !t.isInCollection(stopwords)

  private[operators] lazy val keepTokenSqlDuck: String =
    s"length(t) > 1 AND NOT starts_with(t, 'http') AND t NOT IN ${sqlList(stopwords)}"

  /** The stemmer as a scalar UDF (SURVEY.md §2.10; the only per-token
    * black box — everything around it stays codegen'd). */
  val stemUdf = udf((w: String) => PorterStemmer.stem(w))

  /** The FineWeb/Gopher-style quality-gate KERNEL over any
    * (doc_id, source, text) frame: length → marker-word language-ID →
    * stopword presence → repetition, first-failing gate as `reason`
    * (NULL = keep). Shared definitionally by q_quality_gate (raw
    * documents) and q_curation_pipeline (the planted dedup corpus) so
    * the two can never disagree on what "quality" means. Emits the
    * input columns plus the gate diagnostics; only the bigram stats
    * shuffle (doc_id-keyed agg + left join back, uniform key). */
  private[operators] def qualityReasons(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    def score(lang: String): Column =
      size(filter(toks, t => t.isInCollection(langMarkers(lang)))).cast("long")
    val en = score("en"); val es = score("es")
    val fr = score("fr"); val de = score("de")
    val base = docs.select(
      col("doc_id"), col("source"), col("text"),
      size(toks).cast("long").as("n_tokens"),
      size(filter(toks, t => t.isInCollection(stopwords))).cast("long")
        .as("n_stop"),
      round(size(array_distinct(toks)).cast("double") / size(toks), 9)
        .as("distinct_ratio"),
      when(en >= es && en >= fr && en >= de, "en")
        .when(es >= fr && es >= de, "es")
        .when(fr >= de, "fr").otherwise("de").as("pred_lang"),
      toks.as("toks"))
    val grams = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 9)
        .as("top_bigram_frac"))
    val reason =
      when(!col("n_tokens").between(5, 2000), "length")
        .when(!col("pred_lang").isInCollection(Seq("en", "es")), "lang")
        .when(col("n_stop") < 2, "stopwords")
        .when(col("distinct_ratio") < 0.3 || col("top_bigram_frac") > 0.18,
          "repetition")
    base.drop("toks").join(grams, Seq("doc_id"), "left")
      .withColumn("reason", reason)
  }

  /** DuckDB restatement of [[qualityReasons]] over any
    * (doc_id, source, text) CTE `src` — ends in
    * `qreason(doc_id, source, text, n_tokens, n_stop, pred_lang,
    * distinct_ratio, top_bigram_frac, reason)`. Shared by the
    * q_quality_gate and q_curation_pipeline oracles exactly as the
    * Spark side shares the kernel. */
  private[operators] def qualityReasonsSqlDuckFrom(src: String): String =
    s"""qraw AS (
       |  SELECT doc_id, source, text, string_split(lower(text), ' ') AS toks
       |  FROM $src),
       |qbase AS (
       |  SELECT doc_id, source, text,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(toks, t -> t IN ${sqlList(stopwords)}))
       |      AS BIGINT) AS n_stop,
       |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 9)
       |      AS distinct_ratio,
       |    CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
       |         WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
       |         WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred_lang
       |  FROM (SELECT doc_id, source, text, toks,
       |    CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("en"))})) AS BIGINT) AS s_en,
       |    CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("es"))})) AS BIGINT) AS s_es,
       |    CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("fr"))})) AS BIGINT) AS s_fr,
       |    CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("de"))})) AS BIGINT) AS s_de
       |    FROM qraw) x),
       |qgrams AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks)),
       |      i -> toks[CAST(i AS INTEGER)] || ' ' ||
       |           toks[CAST(i + 1 AS INTEGER)])) AS gram
       |  FROM qraw WHERE len(toks) >= 2),
       |qgc AS (
       |  SELECT doc_id, gram, COUNT(*) AS c FROM qgrams GROUP BY doc_id, gram),
       |qtopfrac AS (
       |  SELECT doc_id,
       |    round(CAST(MAX(c) AS DOUBLE) / SUM(c), 9) AS top_bigram_frac
       |  FROM qgc GROUP BY doc_id),
       |qreason AS (
       |  SELECT b.*, t.top_bigram_frac,
       |    CASE WHEN n_tokens NOT BETWEEN 5 AND 2000 THEN 'length'
       |         WHEN pred_lang NOT IN ('en', 'es') THEN 'lang'
       |         WHEN n_stop < 2 THEN 'stopwords'
       |         WHEN distinct_ratio < 0.3 OR top_bigram_frac > 0.18
       |           THEN 'repetition'
       |    END AS reason
       |  FROM qbase b LEFT JOIN qtopfrac t ON b.doc_id = t.doc_id)"""
      .stripMargin

  /** Grid OLS slope of column `y` on column `x` over a SMALL frame
    * (≤100 rows): DECIMAL(24,9) moment sums of the round-9 inputs over
    * the whole-frame window, one identically-parenthesized double —
    * ONE definition shared by the two corpus-law fits (q_heaps_law,
    * q_zipf) so their exponents cannot drift apart. */
  private def gridOlsSlope: Column = {
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    def d24(c: Column) = c.cast(DecimalType(24, 9))
    val n = count(lit(1)).over(wAll).cast("double")
    val sx = sum(d24(col("x"))).over(wAll).cast("double")
    val sy = sum(d24(col("y"))).over(wAll).cast("double")
    val sxy = sum(d24(round(col("x") * col("y"), 9))).over(wAll)
      .cast("double")
    val sxx = sum(d24(round(col("x") * col("x"), 9))).over(wAll)
      .cast("double")
    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // Character-entropy quality gate (the Gopher/C4 family's
    // incompressibility heuristic): per-doc Shannon entropy of the
    // character distribution via the identity H = ln n − (Σ c·ln c)/n
    // — counts stay exact integers, each c·ln c term is round-12 then
    // DECIMAL-summed (the q_calibration ECE discipline), ONE compound
    // round-9 expression at the end. Low entropy means keyboard-mash
    // repetition or single-char padding — text an LM gains nothing
    // from. The (doc, char) grid is ≤ alphabet-sized per doc; Spark's
    // split("") emits a trailing empty element (Java limit -1
    // semantics) that the length filter drops on both engines.
    "q_entropy_gate" -> ((s, d) => {
      val g = Tables(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(length(col("ch")) > 0)
        .groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("c"))
      g.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_chars"),
          count(lit(1)).as("n_distinct"),
          sum(round(col("c").cast("double") *
            log(col("c").cast("double")), 12)
            .cast(DecimalType(28, 12))).as("slog"))
        .select(col("doc_id"), col("n_chars"), col("n_distinct"),
          round(log(col("n_chars").cast("double")) -
            col("slog").cast("double") / col("n_chars"), 9)
            .as("entropy_nats"))
        .withColumn("is_low_entropy", col("entropy_nats") < 2.5d)
        .orderBy(col("doc_id"))
    }),

    // Simpson diversity / effective-category count per source — the
    // mixture-design read that says whether a source is a monoculture
    // (one language dominating) or a genuine mix: λ = Σnᵢ²/N² is the
    // probability two random docs share a language, and 1/λ is the
    // EFFECTIVE number of languages (Hill number of order 2 — the
    // ecology form of the concentration index next to q_gini's
    // inequality form). All integer squares summed exactly (BIGINT;
    // Σnᵢ² ≤ N² — the q_ks_test rescale note applies at 10⁹⁺
    // rows/source), two round-9 divisions at the end.
    "q_simpson_diversity" -> ((s, d) => {
      val g = Tables(s, d, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("ni"))
      g.groupBy(col("source"))
        .agg(sum(col("ni")).as("n_docs"),
          count(lit(1)).as("n_langs"),
          sum(col("ni") * col("ni")).as("ssq"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          round(col("ssq").cast("double") /
            (col("n_docs") * col("n_docs")).cast("double"), 9)
            .as("simpson"),
          round((col("n_docs") * col("n_docs")).cast("double") /
            col("ssq").cast("double"), 9).as("effective_langs"))
        .orderBy(col("source"))
    }),

    // Differentially-private top-k word release via the exponential
    // mechanism in its Gumbel-trick form (McSherry–Talwar 2007;
    // Durfee–Rogers 2019 proved top-k-with-Gumbel ≡ iterated
    // exponential mechanism) — the release a privacy-bound corpus
    // report makes instead of q_tf_topk's exact one: each word's
    // selection key is ε·f/(2Δ) + Gumbel(md5-uniform), TakeOrdered
    // by key. Noise is deterministic-by-hash (the q_dp_counts device)
    // so both engines draw the SAME mechanism sample; the key is
    // round-9 DECIMAL'd before ordering (the q_weighted_sample libm
    // discipline). true_rank rides along from a 10-row broadcast
    // count against the vocab — the privacy-utility distortion is
    // readable per released word. ε = 0.1, Δ = 1.
    "q_dp_topk" -> ((s, d) => {
      val M = math.pow(16, 13) // 2^52
      val freq = Tables(s, d, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val u = (conv(substring(md5(col("w")), 1, 13), 16, 10)
        .cast("double") + 1d) / lit(M + 1d)
      val rel = freq
        .withColumn("es_key",
          round(lit(0.05d) * col("f") - log(-log(u)), 9)
            .cast(DecimalType(18, 9)))
        .orderBy(col("es_key").desc, col("w")).limit(10)
      rel.join(freq.select(col("w").as("w2"), col("f").as("f2")),
          col("f2") > col("f") ||
            (col("f2") === col("f") && col("w2") < col("w")), "left")
        .groupBy(col("w"), col("f"), col("es_key"))
        .agg((count(col("w2")) + 1L).as("true_rank"))
        .withColumn("release_rank", row_number().over(
          Window.orderBy(col("es_key").desc, col("w"))).cast("long"))
        .select(col("release_rank"), col("w"), col("f"), col("true_rank"))
        .orderBy(col("release_rank"))
    }),

    // Unigram^0.75 negative sampling (Mikolov et al. 2013's noise
    // distribution) — the draw an embedding-training pipeline makes
    // millions of times per epoch, here as the deterministic table
    // build + probe: each word's weight is freq^0.75 rounded at 3
    // digits and scaled to an exact BIGINT (the q_weighted_sample
    // libm-ULP discipline — the ONE transcendental is rounded before
    // any arithmetic that must agree across engines), the cumulative
    // weight table assigns each word a disjoint integer interval, and
    // probe j for center c lands at (md5₂₀(c#j)·W) div 2²⁰ — a pure
    // integer function, so the sample is reproducible under any
    // layout or cluster size. Probes broadcast (centers × 5 rows);
    // the vocab streams past them once. Scale note: the cumulative
    // table build is a vocab-sized window sort (the q_zipf bucket) —
    // at an extreme 1e9-type vocab it becomes a range-partitioned
    // two-phase cumsum, same intervals, same probes.
    "q_negative_sampling" -> ((s, d) => {
      val freq = Tables(s, d, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val wt = freq.withColumn("wi",
        round(pow(col("f"), 0.75d) * 1000, 0).cast("long"))
      val wOrd = Window.orderBy(col("f").desc, col("w"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cumt = wt.withColumn("cum_hi", sum(col("wi")).over(wOrd))
      val tot = wt.agg(sum(col("wi")).as("wsum"))
      val probes = freq.orderBy(col("f").desc, col("w")).limit(20)
        .select(col("w").as("center"))
        .crossJoin(s.range(1, 6).select(col("id").as("j")))
        .withColumn("u20", conv(substring(md5(concat(col("center"),
          lit("#"), col("j").cast("string"))), 1, 5), 16, 10)
          .cast("long"))
        .crossJoin(broadcast(tot))
        .withColumn("t", expr("(u20 * wsum) div 1048576"))
      cumt.join(broadcast(probes),
          col("t") >= col("cum_hi") - col("wi") && col("t") < col("cum_hi"))
        .select(col("center"), col("j"), col("w").as("neg_word"),
          col("f").as("neg_freq"),
          (col("w") === col("center")).as("is_self"))
        .orderBy(col("center"), col("j"))
    }),

    // Hashing-trick vectorizer (Weinberger et al., ICML 2009) — the
    // fixed-width featurizer a training pipeline uses when the
    // vocabulary is unbounded: token → slot = md5 % 64, with a second
    // hash bit giving each token a ±1 sign so collisions cancel in
    // expectation (the unbiased-estimator form). Output is the sparse
    // long form (doc, slot, value) — nonzero slots only — because the
    // dense 64-vector is a pivot away and the sparse form is what a
    // 100 TB feature store keys. Pure per-row explode + ONE
    // map-combinable (doc, slot) aggregation; dimensionality is
    // vocabulary-independent by construction (the trick's point), so
    // the shuffled grid is docs × ≤64 whatever the corpus vocabulary.
    "q_feature_hash" -> ((s, d) => {
      val D = 64
      Tables(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"),
          (conv(substring(md5(col("w")), 1, 4), 16, 10).cast("long") % D)
            .as("slot"),
          ((conv(substring(md5(col("w")), 5, 1), 16, 10).cast("long") % 2)
            * 2 - 1).as("sgn"))
        .groupBy(col("doc_id"), col("slot"))
        .agg(sum(col("sgn")).as("val"))
        .filter(col("val") =!= 0L)
        .orderBy(col("doc_id"), col("slot"))
    }),

    // Heaps'-law vocabulary growth curve (Heaps 1978): V(n) ≈ K·Tᵝ —
    // the corpus statistic that predicts how much NEW vocabulary the
    // next 10 TB of data buys (β well below 1 ⇒ diminishing returns;
    // the scaling-curve argument behind dedup-before-train). The curve
    // is evaluated at 20 equal-width doc-id checkpoints from a 1-row
    // broadcast min/max (never a global rank window): each word
    // collapses to its FIRST-occurrence doc (vocab-sized frame), each
    // doc to its token count, and every cumulative point is a
    // conditional sum against the 20-row checkpoint grid (constant
    // ×20 fan-out). β is the grid OLS slope of ln V on ln T — round-9
    // logs, DECIMAL moment sums, one double expression (q_regression's
    // discipline on a 20-row frame). Model-fit query: needs a
    // non-empty corpus (the BPE/LDA precondition class).
    "q_heaps_law" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"),
          size(filter(tokens(col("text")), (w: Column) => length(w) > 0))
            .cast("long").as("n_tok"))
      val firsts = Tables(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
      val edges = docs
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .select(explode(sequence(lit(1L), lit(20L))).as("cp"),
          col("lo"), col("hi"))
        .select(col("cp"),
          expr("lo + ((hi - lo + 1) * cp) div 20 - 1").as("edge"))
      val tok = docs.crossJoin(broadcast(edges))
        .groupBy(col("cp"), col("edge"))
        .agg(sum(when(col("doc_id") <= col("edge"), col("n_tok"))
          .otherwise(0L)).as("cum_tokens"),
          sum(when(col("doc_id") <= col("edge"), 1L).otherwise(0L))
            .as("cum_docs"))
      val voc = firsts.crossJoin(broadcast(edges))
        .groupBy(col("cp"))
        .agg(sum(when(col("first_doc") <= col("edge"), 1L).otherwise(0L))
          .as("cum_vocab"))
      tok.join(voc, Seq("cp"))
        .withColumn("x", round(log(greatest(col("cum_tokens"), lit(1L))
          .cast("double")), 9))
        .withColumn("y", round(log(greatest(col("cum_vocab"), lit(1L))
          .cast("double")), 9))
        .withColumn("heaps_beta", gridOlsSlope)
        .select(col("cp"), col("edge"), col("cum_docs"), col("cum_tokens"),
          col("cum_vocab"), col("heaps_beta"))
        .orderBy(col("cp"))
    }),

    // Zipf rank–frequency fit (Zipf 1949): the OLS slope of ln f on
    // ln rank over the top-100 vocabulary — the other classic corpus
    // law (slope ≈ −1 for natural text; a flat slope flags synthetic
    // or templated corpora, which is exactly what it measures here).
    // Frequencies are one map-combinable count; ranks are a window
    // over the VOCAB frame with the (freq desc, word) total order; the
    // fit is the same round-9/DECIMAL grid OLS as q_heaps_law.
    "q_zipf" -> ((s, d) => {
      val freq = Tables(s, d, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      // top-100 FIRST (TakeOrderedAndProject — per-partition partial
      // top-k, 100 rows to the driver side of the exchange), THEN the
      // rank window over the 100-row frame: ranking the whole
      // vocabulary through a single-partition window would funnel a
      // web-scale vocab through one task for 100 output rows
      val wr = Window.orderBy(col("f").desc, col("w"))
      freq.orderBy(col("f").desc, col("w")).limit(100)
        .withColumn("rank", row_number().over(wr).cast("long"))
        .withColumn("x", round(log(col("rank").cast("double")), 9))
        .withColumn("y", round(log(col("f").cast("double")), 9))
        .withColumn("zipf_slope", gridOlsSlope)
        .select(col("rank"), col("w").as("word"), col("f"),
          col("zipf_slope"))
        .orderBy(col("rank"))
    }),

    // Good–Turing frequency-of-frequencies (Good 1953; the
    // Gale–Sampson simple-GT presentation) per source — the corpus
    // statistic behind "how much mass sits in words we have NOT seen
    // yet": p_unseen = N₁/N (hapax share), the smoothed count
    // r* = (r+1)·N_{r+1}/N_r for the low ranks, and coverage
    // = 1 − N₁/N — what a mixture designer reads to judge whether a
    // source's vocabulary is saturated or still growing (pairs with
    // q_heaps_law's growth curve). Two map-combinable aggregations —
    // (source, word) counts, then count-of-counts over the vocab-sized
    // frame — and a 5-row conditional roll-up per source; the corpus
    // never moves after the first agg. All counts exact BIGINTs, the
    // three ratios round-9 doubles of exact integers.
    "q_good_turing" -> ((s, d) => {
      val freq = Tables(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
      freq.groupBy(col("source"))
        .agg(sum(col("f")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(when(col("f") === 2, 1L).otherwise(0L)).as("n_dis"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("n_hapax"), col("n_dis"),
          round(col("n_hapax").cast("double") / col("n_tokens"), 9)
            .as("p_unseen"),
          when(col("n_hapax") > 0,
            round(lit(2.0) * col("n_dis") / col("n_hapax"), 9))
            .as("r_star_1"),
          round(lit(1.0) - col("n_hapax").cast("double") / col("n_tokens"),
            9).as("coverage"))
        .orderBy(col("source"))
    }),

    // Pairwise source vocabulary overlap — the corpus-mixture design
    // matrix ("how redundant are these domains before I weight them"),
    // complementing q_js_divergence's per-source-vs-corpus drift with
    // the source×source view. Each source first DISTINCT-reduces to
    // its vocabulary (map-combinable, value-domain-sized); Jaccard
    // closes over the inclusion–exclusion union on the pair grid.
    //
    // Scale: the naive word-keyed pair self-join fans df² per word —
    // a Zipf-head token present in (nearly) all S sources is an S²/2
    // hot key, quadratic when a deployment has thousands of sources.
    // EXACT mitigation (same output, no df-cap semantics change):
    // split the vocabulary at source-df = S/2. Low-df words take the
    // direct pair join (fan-out df² ≤ (S/2)²). High-df words are
    // counted through their ABSENT sets via inclusion–exclusion —
    //   |{w∈H : w∈s1 ∧ w∈s2}| = H − a(s1) − a(s2) + ab(s1,s2)
    // where a(s) counts high words missing from s and ab joins the
    // absent sets (fan-out (S−df)² ≤ (S/2)²). Every word's join-side
    // cardinality is min(df, S−df): the ubiquitous-word hot key is
    // gone, and the arithmetic is exact integers so the DuckDB oracle
    // keeps the straightforward quadratic formulation.
    "q_source_overlap" -> ((s, d) => {
      // spread (r15): tokenize+explode rides the 1-split scan
      // (measured 2.1 s 1-task stage)
      val vocab = Tables.spread(Tables(s, d, "documents"), col("doc_id"))
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .distinct()
        .persist()
      val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("v"))
      val nSrc = sizes.agg(count(lit(1)).as("n_src"))
      val highWords = vocab.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nSrc))
        .filter(col("df") * 2 > col("n_src"))
        .select(col("w"))
        .persist()
      // low-df words: direct word-keyed pair join, each word ≤ (S/2)²
      val lowVocab = vocab.join(highWords, Seq("w"), "left_anti")
      val lowPairs = lowVocab.as("a")
        .join(lowVocab.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("low_common"))
      // high-df words: inclusion–exclusion over the small absent sets
      val hCount = highWords.agg(count(lit(1)).as("h"))
      val absent = sizes.select(col("source")).crossJoin(highWords)
        .join(vocab, Seq("source", "w"), "left_anti")
        .persist()
      val absentCnt = absent.groupBy(col("source")).agg(count(lit(1)).as("a"))
      val absentPairs = absent.as("a")
        .join(absent.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("ab_both"))
      val grid = sizes.select(col("source").as("s1"), col("v").as("v1"))
        .join(sizes.select(col("source").as("s2"), col("v").as("v2")),
          col("s1") < col("s2"))
      grid
        .join(lowPairs, Seq("s1", "s2"), "left")
        .join(absentCnt.select(col("source").as("s1"), col("a").as("a1")),
          Seq("s1"), "left")
        .join(absentCnt.select(col("source").as("s2"), col("a").as("a2")),
          Seq("s2"), "left")
        .join(absentPairs, Seq("s1", "s2"), "left")
        .crossJoin(broadcast(hCount))
        .withColumn("n_common",
          coalesce(col("low_common"), lit(0L)) + col("h")
            - coalesce(col("a1"), lit(0L)) - coalesce(col("a2"), lit(0L))
            + coalesce(col("ab_both"), lit(0L)))
        .filter(col("n_common") > 0)
        .select(col("s1"), col("s2"), col("v1"), col("v2"), col("n_common"),
          round(col("n_common").cast("double") /
            (col("v1") + col("v2") - col("n_common")).cast("double"), 9)
            .as("jaccard"))
        .orderBy(col("s1"), col("s2"))
    }),

    // RAKE keyword extraction (Rose et al. 2010): candidate phrases
    // are maximal stopword-free token runs (gaps-and-islands over the
    // SAME keepToken predicate as T6, so boundary semantics can't
    // drift from the stopword operators); word score = deg/freq where
    // deg sums the length of every phrase containing the word
    // (co-occurrence degree incl. self), phrase score = Σ word scores.
    // Word scores are rationals rounded-at-12 into DECIMAL so the
    // phrase sum is exact and layout/engine-invariant (the
    // q_js_divergence rationale); ranking ends in a global top-15
    // TakeOrdered with a total (score, phrase) order. Every shuffle is
    // keyed (doc/island, word); word stats are vocabulary-sized;
    // phrases are bounded by document length — nothing corpus².
    "q_rake_keywords" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // spread (r15): tokenize+posexplode is the heavy narrow step
      // and rides the 1-split scan; the key doubles as the island
      // window's partition key
      val tok = Tables.spread(Tables(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .toDF("doc_id", "pos", "word")
        .filter(length(col("word")) > 0)
      val content = tok.filter(keepToken(col("word")))
        .withColumn("island",
          col("pos") - row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      // ONE island agg carries the phrase AND its word list, then the
      // words re-explode from the agg output — the join-free layout
      // (an earlier cut joined the token frame back to phrases on
      // (doc, island): a second full shuffle of every content token
      // for data the agg already held; measured 1.91 → 1.50 s at
      // sf0.1 idle-host removing it)
      val phr = content.groupBy(col("doc_id"), col("island"))
        .agg(count(lit(1)).as("len"),
          transform(
            sort_array(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word")).as("words"))
        .withColumn("phrase", array_join(col("words"), " "))
      // two consumers (word stats + phrase scoring) read this frame —
      // persist so the tokenize/window/phrase subtree executes once
      // (harness/suites clear caches between queries)
      val inPhrase = phr
        .select(col("doc_id"), col("island"), col("len"), col("phrase"),
          explode(col("words")).as("word"))
        .persist()
      val wordstats = inPhrase
        .groupBy(col("word"))
        .agg(round(sum(col("len")).cast("double") /
            count(lit(1)).cast("double"), 12)
          .cast(DecimalType(22, 12)).as("wscore"))
      inPhrase.join(wordstats, Seq("word"))
        .groupBy(col("doc_id"), col("island"), col("phrase"))
        .agg(sum(col("wscore")).as("pscore"))
        .groupBy(col("phrase"))
        .agg(max(col("pscore")).as("ps"), count(lit(1)).as("n_occurrences"))
        .select(col("phrase"), round(col("ps").cast("double"), 9).as("score"),
          col("n_occurrences"))
        .orderBy(col("score").desc, col("phrase"))
        .limit(15)
    }),

    // A1: corpus word-frequency (hash agg with partial combine).
    "q_word_freq" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(explode(tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(100)
    }),

    // Jensen–Shannon divergence of each source's unigram distribution
    // from the corpus-wide distribution — the drift/mixture metric a
    // curation pipeline watches when rebalancing domains (JSD is the
    // symmetrized, bounded [0, ln2] cousin of KL; Lin 1991). For P =
    // the source's distribution, Q = the corpus distribution and
    // M = (P+Q)/2, terms ABSENT from the source (p = 0) contribute
    // exactly 0.5·q·ln2, so the absent mass folds into the closed form
    // 0.5·ln2·(1 − Σ_present q) and the plan only ever touches
    // (source, word) pairs that EXIST — never the |sources| × |vocab|
    // dense cross product.
    //
    // Scale: two uniform word-keyed aggs (corpus counts, source
    // counts), a vocab-sized equi-join, a per-source agg; the only
    // broadcast is the 1-row corpus total. Determinism discipline:
    // per-term contributions rounded at 12 into exact DECIMAL sums
    // (order/partitioning-invariant), final JSD rounded at 6 —
    // restated term-for-term in the oracle.
    "q_js_divergence" -> ((s, d) => {
      val grams = Tables(s, d, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("w"))
      val cw = grams.groupBy(col("w")).agg(count(lit(1)).as("cq"))
      val qtot = cw.agg(sum(col("cq")).as("qtot"))
      val csw = grams.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("cp"))
      val stot = csw.groupBy(col("source")).agg(sum(col("cp")).as("ptot"))
      val p = col("cp").cast("double") / col("ptot").cast("double")
      val q = col("cq").cast("double") / col("qtot").cast("double")
      val contrib = lit(0.5) * (p * log(lit(2.0) * p / (p + q)) +
        q * log(lit(2.0) * q / (p + q)))
      csw.join(cw, Seq("w")).join(stot, Seq("source"))
        .crossJoin(broadcast(qtot))
        .select(col("source"),
          round(contrib, 12).cast(DecimalType(16, 12)).as("c12"),
          round(q, 12).cast(DecimalType(16, 12)).as("q12"))
        .groupBy(col("source"))
        .agg(sum(col("c12")).as("sc"), sum(col("q12")).as("sq"),
          count(lit(1)).as("n_terms"))
        .select(col("source"),
          round(col("sc").cast("double") +
            lit(0.5) * log(lit(2.0)) *
              (lit(1.0) - col("sq").cast("double")), 6).as("jsd"),
          col("n_terms"))
        .orderBy(col("source"))
    }),

    // Token counting: whitespace tokens + BPE-ish regex token count.
    "q_token_stats" -> ((s, d) => {
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_re_tokens"),
        length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: stopword ratio, avg token length, length gate.
    "q_quality_score" -> ((s, d) => {
      val toks = tokens(col("text"))
      val nTok = size(toks).cast("double")
      val nStop = size(filter(toks, t => t.isInCollection(stopwords))).cast("double")
      val avgLen = length(regexp_replace(col("text"), " ", "")).cast("double") / nTok
      val stopRatio = nStop / nTok
      Tables(s, d, "documents").select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        stopRatio.as("stop_ratio"),
        avgLen.as("avg_token_len"),
        (when(size(toks).between(5, 2000), 1.0d).otherwise(0.5d) *
          (lit(1.0d) - stopRatio)).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Percentile data pruning (r9) — the FineWeb-Edu-style "keep the
    // top p% per source by quality score" selection step between
    // scoring and sampling: score = stopword density (round-9; the
    // natural-language-ness proxy this pack already gates on), rank =
    // a source-partitioned total-order window (score desc, doc_id),
    // keep ⇔ rk·10 ≤ n·7 — the 70th-percentile cutoff as EXACT INTEGER
    // arithmetic (0.7·n in floats would hand the boundary doc to
    // whichever engine rounds last). Every doc ships with its rank and
    // verdict, so the prune is auditable row by row like the gates.
    // Scale: one shuffle on source + per-group sort (the
    // q_stratified_sample posture — a giant stratum costs its own
    // sort, never a global one); the cutoff needs no second pass
    // because the per-source count rides the same window partition.
    "q_percentile_prune" -> ((s, d) => {
      val toks = tokens(col("text"))
      val score = round(
        size(filter(toks, t => t.isInCollection(stopwords))).cast("double") /
          size(toks), 9)
      val wRank = Window.partitionBy(col("source"))
        .orderBy(col("score").desc, col("doc_id"))
      val wSrc = Window.partitionBy(col("source"))
      Tables(s, d, "documents")
        .select(col("source"), col("doc_id"), score.as("score"))
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .withColumn("n_source", count(lit(1)).over(wSrc))
        .withColumn("kept", col("rk") * 10 <= col("n_source") * 7)
        .orderBy(col("source"), col("doc_id"))
    }),

    // Readability scoring (Flesch reading ease, 1948) — the
    // text-difficulty quality signal a curation pipeline filters on
    // alongside q_quality_score. Counts are pure regexp facts: words =
    // [a-z0-9]+ runs, syllables ≈ [aeiou]+ vowel groups (spaces break
    // groups, so the whole-text count equals the per-word sum; a
    // vowel-free token contributes 0 — part of the definition),
    // sentences = [.!?]+ runs floored at 1. The score is ONE double
    // expression over the three integer counts, identically
    // parenthesized in the oracle, round-9; the band label is an exact
    // threshold CASE. Narrow per-row projection — no shuffle but the
    // verification sort.
    "q_readability" -> ((s, d) => {
      val words = size(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).cast("long")
      val syll = size(regexp_extract_all(lower(col("text")),
        lit("[aeiou]+"), lit(0))).cast("long")
      val sents = greatest(size(regexp_extract_all(col("text"),
        lit("[.!?]+"), lit(0))).cast("long"), lit(1L))
      val score = round(lit(206.835) -
        lit(1.015) * (words.cast("double") / sents.cast("double")) -
        lit(84.6) * (syll.cast("double") / words.cast("double")), 9)
      Tables(s, d, "documents").select(
        col("doc_id"),
        words.as("n_words"), sents.as("n_sentences"), syll.as("n_syllables"),
        when(words > 0, score).as("flesch"),
        when(words === 0, "empty")
          .when(score >= 60.0, "easy")
          .when(score >= 30.0, "medium")
          .otherwise("hard").as("band"))
        .orderBy(col("doc_id"))
    }),

    // Language ID: marker-word scoring, argmax with fixed tie order.
    "q_lang_id" -> ((s, d) => langScored(s, d).orderBy(col("doc_id"))),

    // Language-ID EVALUATION — the same marker-word classifier
    // (shared langScored kernel: one definition, two readers) rolled
    // up against the corpus's stored truth labels as per-language
    // precision / recall / F1 off the confusion grid: the accuracy
    // read a curator takes before trusting the heuristic to route
    // documents into per-language pipelines. All three metrics are
    // single divisions of exact grid counts (F1 = 2·tp/(n_true +
    // n_pred), never the float p·r composition), rounded at 9.
    // Grid-sized everywhere after the one (true × pred) count agg.
    "q_langid_eval" -> ((s, d) => {
      val grid = langScored(s, d)
        .groupBy(col("labeled_lang").as("t"), col("pred_lang").as("p"))
        .agg(count(lit(1)).as("n"))
      val byTrue = grid.groupBy(col("t").as("lang"))
        .agg(sum(col("n")).as("n_true"),
          sum(when(col("p") === col("t"), col("n")).otherwise(0L)).as("tp"))
      val byPred = grid.groupBy(col("p").as("lang"))
        .agg(sum(col("n")).as("n_pred"))
      byTrue.join(byPred, Seq("lang"), "full_outer")
        .select(col("lang"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision", when(col("n_pred") > 0L,
          round(col("tp").cast("double") / col("n_pred"), 9)))
        .withColumn("recall", when(col("n_true") > 0L,
          round(col("tp").cast("double") / col("n_true"), 9)))
        .withColumn("f1", when(col("n_true") + col("n_pred") > 0L,
          round(lit(2.0d) * col("tp") / (col("n_true") + col("n_pred")), 9)))
        .orderBy(col("lang"))
    }),

    // Document fingerprinting: whole-doc hash + min word-5-gram shingle
    // hash (rolling-hash-style content fingerprint).
    "q_fingerprint" -> ((s, d) => {
      val toks = tokens(col("text"))
      val nSh = greatest(size(toks) - 4, lit(1))
      val shingles = transform(sequence(lit(1), nSh),
        i => concat_ws(" ", slice(toks, i, lit(5))))
      Tables(s, d, "documents").select(
        col("doc_id"),
        md5(col("text")).as("doc_hash"),
        array_min(transform(shingles, sh => md5(sh))).as("min_shingle_hash"),
        nSh.cast("long").as("n_shingles"))
        .orderBy(col("doc_id"))
    }),

    // LM quality scoring (perplexity proxy): score each document by the
    // mean log-probability of its word bigrams under the corpus's own
    // bigram distribution — the CCNet/Gopher-style LM filter with the
    // corpus itself as the model. Per-bigram log-probs are rounded at 9
    // decimals and summed as exact DECIMAL (order-independent,
    // partitioning-invariant — a raw double sum would not be); the mean
    // is rounded at 6. Layout: one groupBy for the bigram model, one
    // broadcast of the scalar total, one gram→model join keyed by the
    // gram, one doc aggregation — every shuffle key is either the gram
    // or doc_id, both uniform.
    "q_lm_score" -> ((s, d) => {
      val grams = Tables(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1)))).as("gram"))
      // the vocab-sized model feeds TWO consumers (the 1-row total and
      // the scored table) — unpersisted, each re-runs the full corpus
      // bigram explode + shuffle agg, the exact recompute hazard
      // q_dsir_sample's persist documents. Vocab-sized: safe to cache
      // at any corpus scale (the harness unpersists between queries).
      val model = grams.groupBy(col("gram")).agg(count(lit(1)).as("c"))
        .persist()
      val total = model.agg(sum(col("c")).as("n_total"))
      val scored = model.crossJoin(broadcast(total))
        .select(col("gram"),
          round(log(col("c").cast("double") / col("n_total")), 9)
            .cast(DecimalType(15, 9)).as("logp"))
      grams.join(scored, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(round((sum(col("logp")).cast("double") / count(lit(1))), 6)
          .as("mean_logp"), count(lit(1)).as("n_bigrams"))
        .orderBy(col("doc_id"))
    }),

    // DSIR-style importance resampling: select raw-corpus documents
    // whose unigram distribution looks most like a TARGET domain (here
    // the lang='en' slice) — "Data Selection for Language Models via
    // Importance Resampling" recast as two token aggregations and one
    // mark-join. Per-term importance weight = log of the Laplace-
    // smoothed target/raw probability ratio over the shared corpus
    // vocabulary; a doc's score is the mean weight of its token
    // OCCURRENCES. Same determinism discipline as q_lm_score: per-term
    // weights rounded at 9 and summed as exact DECIMAL (order- and
    // partitioning-invariant), mean rounded at 6. Layout: two uniform
    // term-keyed aggs, three 1-row scalar broadcasts, one term-keyed
    // mark-join (build side = 1 row/term), one doc_id agg, global
    // top-50 via TakeOrderedAndProject — nothing grows superlinearly
    // and no corpus-sized structure ever reaches the driver.
    "q_dsir_sample" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val grams = docs.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("w"))
      val raw = grams.groupBy(col("w")).agg(count(lit(1)).as("cr"))
      val tgt = grams.filter(col("lang") === "en")
        .groupBy(col("w")).agg(count(lit(1)).as("ct"))
      // The vocab-sized joined count table feeds BOTH the scalar totals
      // and the per-term weights; persisting it means the corpus-sized
      // token explode + two aggregations run once, not once per
      // consumer (the token stream itself stays uncached — at 100 TB
      // you re-scan it for the scoring join rather than cache it).
      val joined = raw.join(tgt, Seq("w"), "left_outer").persist()
      val totals = joined
        .agg(sum(col("cr")).as("rtot"),
          sum(coalesce(col("ct"), lit(0L))).as("ttot"),
          count(lit(1)).as("v"))
      val weights = joined
        .crossJoin(broadcast(totals))
        .select(col("w"), round(log(
          ((coalesce(col("ct"), lit(0L)) + 1).cast("double") *
            (col("rtot") + col("v")).cast("double")) /
            ((col("ttot") + col("v")).cast("double") *
              (col("cr") + 1).cast("double"))), 9)
          .cast(DecimalType(15, 9)).as("lw"))
      grams.join(weights, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("lw")).cast("double") / count(lit(1)), 6)
          .as("dsir_score"), count(lit(1)).as("n_tokens"))
        .orderBy(col("dsir_score").desc, col("doc_id"))
        .limit(50)
    }),

    // Sequence packing: assign documents to fixed token-budget packs
    // (the batch-construction step before LLM training). Packing is a
    // running prefix sum: a doc's pack is floor(tokens-before-it /
    // BUDGET) — deterministic, one window pass, and deliberately scoped
    // PER SOURCE SHARD: a global pack order would serialize the world
    // through one partition, while per-shard packing parallelizes and
    // is how packing actually runs at 100 TB (each shard packs
    // independently). Boundary docs may straddle the budget (documented
    // divergence from strict greedy repacking, which is inherently
    // sequential).
    "q_pack_sequences" -> ((s, d) => {
      val BUDGET = 2000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("pack_no", floor(col("before") / BUDGET))
        .groupBy(col("source"), col("pack_no"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
        .orderBy(col("source"), col("pack_no"))
    }),

    // Fuzzy token matching via SymSpell-style deletion neighborhoods:
    // vocabulary terms within edit distance 1 of each other, found by
    // equi-joining on 1-character-deletion variant keys (a word and
    // each of its single-deletion strings). Deletion keys cover
    // insert/delete/substitute at distance 1, the exact levenshtein
    // filter then removes the distance-2 candidates that share a
    // variant — so candidate generation is a hash join on a bounded
    // ×(len+1) fan-out, never an all-pairs comparison (the layout that
    // makes fuzzy matching feasible at vocabulary scale).
    "q_fuzzy_token_pairs" -> ((s, d) => {
      val base = Tables(s, d, "documents")
        .select(explode(tokens(col("text"))).as("w")).distinct()
        .filter(length(col("w")).between(4, 20) && col("w").rlike("^[a-z]+$"))
      // the synthetic word soup has no natural distance-1 neighbors
      // (24 distinct [a-z]{4,20} terms at sf0.01), so (as with the
      // dedup corpus) typos are INJECTED deterministically: every word
      // of >=5 chars contributes its first-char deletion — guaranteed
      // distance-1 partners on both sides.
      val vocab = base.unionByName(
        base.filter(length(col("w")) >= 5)
          .select(expr("substr(w, 2, 100)").as("w"))).distinct()
      val variants = vocab.select(col("w"), explode(expr(
        """array_distinct(concat(array(w),
          |  transform(sequence(1, length(w)),
          |    i -> concat(substr(w, 1, i - 1), substr(w, i + 1, 100)))))"""
          .stripMargin)).as("v"))
      val l = variants.select(col("w").as("w1"), col("v"))
      val r = variants.select(col("w").as("w2"), col("v"))
      l.join(r, Seq("v"))
        .filter(col("w1") < col("w2"))
        .select(col("w1"), col("w2")).distinct()
        .filter(levenshtein(col("w1"), col("w2")) === 1)
        .orderBy(col("w1"), col("w2"))
    }),

    // Overlapping token-window chunking — the RAG-indexing / context-
    // window prep step: each document becomes fixed-size chunks of
    // CHUNK tokens starting every STRIDE tokens (chunks overlap by
    // CHUNK-STRIDE; the tail chunk may be short, so every token is in
    // ≥1 chunk). Pure per-row explode — embarrassingly parallel, no
    // shuffle except the verification sort; chunk identity is the md5
    // of the chunk text so downstream chunk-level dedup/indexing can
    // key on it without carrying the text.
    "q_chunk_documents" -> ((s, d) => {
      val CHUNK = 64; val STRIDE = 48
      Tables(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), size(col("t")), lit(STRIDE))).as("st"))
        .select(col("doc_id"),
          ((col("st") - 1) / STRIDE).cast("long").as("chunk_no"),
          col("st").cast("long").as("chunk_start"),
          size(slice(col("t"), col("st"), lit(CHUNK))).cast("long")
            .as("n_chunk_tokens"),
          md5(concat_ws(" ", slice(col("t"), col("st"), lit(CHUNK))))
            .as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_no"))
    }),

    // PII scrubbing: redact emails/phone numbers before training-data
    // release. The corpus text is synthetic word soup, so PII is
    // DERIVED deterministically per doc (same derivation on the oracle
    // side) — the regexes then do real work. Pure codegen'd
    // regexp_replace/extract projections, no shuffle; the patterns are
    // written to the common subset of Java regex and RE2 so both
    // engines agree.
    "q_scrub_pii" -> ((s, d) => {
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
      val withPii = Tables(s, d, "documents").select(
        col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      withPii.select(
        col("doc_id"),
        regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("clean"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0)))
          .cast("long").as("n_phones"))
        .orderBy(col("doc_id"))
    }),

    // Repetition-based quality filter (the Gopher/MassiveText rules,
    // Rae et al. 2021 §A1.1): distinct-token ratio and the fraction of
    // all 2-grams taken by the most frequent 2-gram; documents failing
    // either threshold are flagged. Per-doc 2-gram counting goes
    // through explode + two doc_id-keyed aggregations (map-side
    // partial agg; at scale the doc_id key is uniform so no skew).
    "q_quality_repetition" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        // guard: a 1-token doc has no 2-grams (and Spark's sequence(1, 0)
        // would descend); both sides restrict to >= 2 tokens
        .filter(size(col("toks")) >= 2)
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("distinct_ratio",
          round(size(array_distinct(col("toks"))).cast("double") /
            col("n_tokens"), 9))
      val grams = docs.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1)))).as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(round(max(col("c")).cast("double") / sum(col("c")), 9)
          .as("top_bigram_frac"))
      docs.join(grams, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("distinct_ratio"),
          col("top_bigram_frac"),
          (col("distinct_ratio") >= 0.3 && col("top_bigram_frac") <= 0.18)
            .as("keep"))
        .orderBy(col("doc_id"))
    }),

    // FineWeb/Gopher-style composed quality gate: the individual
    // filters this pack proves in isolation (length, marker-word
    // language ID, stopword presence, repetition) chained into ONE
    // keep/drop decision with a first-failing-gate `reason` — the
    // curation funnel a training-data pipeline runs before dedup.
    // Gate order is fixed so `reason` is deterministic. Only the
    // bigram-repetition stats shuffle (doc_id-keyed agg + left join
    // back, uniform key); every other gate is a narrow projection, so
    // at 100 TB this costs one exchange over (doc_id, gram) partials.
    // The repetition gate can only fire where bigram stats exist
    // (n_tokens >= 5 passed the length gate first), so the left join's
    // nulls never reach it.
    "q_quality_gate" -> ((s, d) => {
      qualityReasons(Tables(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          col("pred_lang"), col("distinct_ratio"), col("top_bigram_frac"),
          col("reason").isNull.as("keep"), col("reason"))
        .orderBy(col("doc_id"))
    }),

    // BM25 retrieval scoring (Robertson-Spärck Jones): rank the corpus
    // against a fixed query — the retrieval primitive behind
    // similarity-based data curation. Corpus stats (N, avgdl, per-term
    // df) are ONE 1-row aggregate over exact integers — broadcast
    // scalars, never corpus-sized broadcasts — and scoring is a narrow
    // per-doc map ending in a TakeOrdered top-k, so the layout holds at
    // 100 TB. Determinism: avgdl divides two exact longs; per-term
    // contributions are rounded at 9 decimals and summed as DECIMAL in
    // fixed term order (the q_lm_score technique), so Spark and DuckDB
    // agree bit-for-bit.
    "q_bm25" -> ((s, d) =>
      bm25Scored(s, d, Seq("dup", "vector", "query"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)),

    // Incremental IR-index admission — the retrieval member of the
    // stored-index family next to q_dedup_incremental (minhash) and
    // q_ann_incremental (IVF): an ARRIVING BATCH (doc_id % 7 = 3, the
    // shared crawl stand-in) is scored under UPDATED corpus statistics
    // obtained by MERGING the stored index stats with the batch's own
    // — never by rescanning the index. bm25Stats is a 1-row vector of
    // exact longs, so two indexes' stats add component-wise (df' =
    // df_idx + df_batch, N' = N + n_b, Σdl' = Σdl + Σdl_b) — the
    // posting-list-statistics merge every incremental search index
    // performs at segment commit. Because the corpus IS index ∪
    // batch, the merged stats equal the whole-corpus stats exactly,
    // so the oracle is the q_bm25 kernel CTE filtered to batch docs —
    // a structural equality, not a tolerance. Per-batch work: batch
    // tokenization + two 1-row aggregates + a narrow scoring map
    // (index side recomputed in-query only because the sandbox has no
    // persisted index — the q_dedup_incremental posture).
    "q_bm25_incremental" -> ((s, d) => {
      val terms = Seq("dup", "vector", "query")
      val docs = bm25Docs(s, d)
      val newPred = col("doc_id") % 7 === 3
      // Totality: if either partition is empty its sum(dl)/sum(df) is
      // NULL (count is not), and NULL would poison the component-wise
      // merge while the oracle (whole-corpus kernel filtered to the
      // batch) still scores — coalesce every summed stat to 0 so an
      // empty index (or batch) merges as the additive identity.
      def total(stats: DataFrame): DataFrame = stats.select(
        col("nd") +: coalesce(col("sdl"), lit(0L)).as("sdl") +:
          terms.map(t =>
            coalesce(col(s"dfl_$t"), lit(0L)).as(s"dfl_$t")): _*)
      val idxStats = total(bm25Stats(docs.filter(!newPred), terms))
      val batStats = total(bm25Stats(docs.filter(newPred), terms))
        .select(col("nd").as("b_nd") +: col("sdl").as("b_sdl") +:
          terms.map(t => col(s"dfl_$t").as(s"b_dfl_$t")): _*)
      val merged = idxStats.crossJoin(broadcast(batStats))
        .select((col("nd") + col("b_nd")).as("nd") +:
          (col("sdl") + col("b_sdl")).as("sdl") +:
          terms.map(t =>
            (col(s"dfl_$t") + col(s"b_dfl_$t")).as(s"dfl_$t")): _*)
      bm25ScoreWith(docs.filter(newPred), merged, terms)
        .orderBy(col("doc_id"))
    }),

    // Retrieval-quality eval — the IR twin of the q_auc/q_pr_curve
    // classification quartet: for three fixed queries (rare, common,
    // rare relevance sets), rank the corpus by BM25 (the scoring
    // kernel IS q_bm25's — one definition) against boolean-AND
    // relevance (every query term present) and report hit@k,
    // first-relevant rank (the MRR core, kept as an exact integer —
    // no transcendental discounts to drift across engines),
    // precision@10 and recall@50. Scale shape: NO corpus-sized rank
    // window anywhere — the top-k boundary comes from a
    // TakeOrdered(50) (a 50-row frame; its row_number window ranks 50
    // rows, not the corpus), the best-relevant key from a 1-row max
    // over the total-order key struct(score, -doc_id), and every
    // metric is then a broadcast-threshold count — three corpus
    // passes per fixed query, each a narrow codegen map over one
    // scan. Counts use count(when(...)) so an empty corpus reports
    // zeros, never NULL.
    "q_retrieval_eval" -> ((s, d) => {
      val qs = Seq((0L, Seq("dup", "vector")), (1L, Seq("join", "window")),
        (2L, Seq("dup", "query")))
      val per = qs.map { case (qid, terms) =>
        val key = struct(col("score").as("s"), (-col("doc_id")).as("nid"))
        val kd = bm25Scored(s, d, terms)
          .withColumn("rel", terms.map(t => col(s"tf_$t") > 0L).reduce(_ && _))
          .select(col("doc_id"), col("rel"), key.as("k"))
        val relAgg = kd.agg(
          count(when(col("rel"), lit(1))).as("n_rel"),
          max(when(col("rel"), col("k"))).as("best"))
        val top50 = kd.orderBy(col("k").desc).limit(50)
          .withColumn("rn", row_number().over(Window.orderBy(col("k").desc)))
        val bounds = top50.agg(
          max(when(col("rn") === 10, col("k"))).as("b10"),
          max(when(col("rn") === 50, col("k"))).as("b50"))
        val consts = relAgg.crossJoin(bounds)
        // b10/b50 NULL means the corpus has fewer than k docs — every
        // relevant doc is then inside the top-k by definition
        val counts = kd.crossJoin(broadcast(consts)).agg(
          count(when(col("k") > col("best"), lit(1))).as("ahead"),
          count(when(col("rel") &&
            (col("b10").isNull || col("k") >= col("b10")), lit(1)))
            .as("rel_at_10"),
          count(when(col("rel") &&
            (col("b50").isNull || col("k") >= col("b50")), lit(1)))
            .as("rel_at_50"))
        counts.crossJoin(broadcast(relAgg.select(col("n_rel"))))
          .select(lit(qid).as("qid"), lit(terms.mkString(" ")).as("terms"),
            col("n_rel"),
            when(col("n_rel") > 0L, col("ahead") + 1L).as("first_rel_rank"),
            col("rel_at_10"), col("rel_at_50"),
            round(col("rel_at_10").cast("double") / 10.0d, 9)
              .as("precision_at_10"),
            round(col("rel_at_50").cast("double") /
              nullif(col("n_rel"), lit(0L)).cast("double"), 9)
              .as("recall_at_50"))
      }
      per.reduce(_ unionByName _).orderBy(col("qid"))
    }),

    // NDCG@10 — the graded companion to q_retrieval_eval's binary
    // metrics, over the same three fixed queries and the same shared
    // BM25 kernel. Gain = number of query terms present (0/1/2); the
    // rank discounts 1/log2(i+1) are computed ONCE in Scala
    // ([[ndcgDiscounts]], round-9) and injected as literals into both
    // the Spark plan and the generated oracle — engine log2
    // implementations never enter the comparison. DCG is a DECIMAL
    // sum of round-9 terms over the TakeOrdered(10) frame; IDCG needs
    // no sort at all — with gains in {0,1,2} the ideal ranking is
    // determined by the corpus gain HISTOGRAM (cnt2 twos, then cnt1
    // ones), one 1-row aggregate. ndcg = one division of the two
    // DECIMAL-sum doubles. Empty corpus → zero DCG/IDCG rows with a
    // NULL ndcg, one row per query either way.
    "q_ndcg" -> ((s, d) => {
      val qs = Seq((0L, Seq("dup", "vector")), (1L, Seq("join", "window")),
        (2L, Seq("dup", "query")))
      val per = qs.map { case (qid, terms) =>
        val gainE = terms.map(t => when(col(s"tf_$t") > 0L, 1L).otherwise(0L))
          .reduce(_ + _)
        val kd = bm25Scored(s, d, terms)
          .withColumn("gain", gainE)
          .select(col("doc_id"), col("score"), col("gain"))
        val counts = kd.agg(
          count(when(col("gain") === 2L, lit(1))).as("cnt2"),
          count(when(col("gain") === 1L, lit(1))).as("cnt1"))
        val top10 = kd.orderBy(col("score").desc, col("doc_id")).limit(10)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id"))))
        val discCol = ndcgDiscounts.zipWithIndex.foldLeft(lit(0.0d)) {
          case (acc, (disc, i)) => when(col("rn") === (i + 1), lit(disc))
            .otherwise(acc)
        }
        val dcg = top10.agg(coalesce(sum(
          round(col("gain").cast("double") * discCol, 9)
            .cast(DecimalType(15, 9))), lit(0).cast(DecimalType(15, 9)))
          .as("dcg_dec"))
        val idcgE = ndcgDiscounts.zipWithIndex.map { case (disc, i) =>
          round(when(col("cnt2") >= (i + 1), 2.0d)
            .when(col("cnt2") + col("cnt1") >= (i + 1), 1.0d)
            .otherwise(0.0d) * lit(disc), 9).cast(DecimalType(15, 9))
        }.reduce(_ + _)
        counts.crossJoin(dcg)
          .select(lit(qid).as("qid"), lit(terms.mkString(" ")).as("terms"),
            col("cnt2"), col("cnt1"),
            col("dcg_dec").cast("double").as("dcg_10"),
            idcgE.cast("double").as("idcg_10"))
          .withColumn("ndcg_10",
            round(col("dcg_10") / nullif(col("idcg_10"), lit(0.0d)), 9))
      }
      per.reduce(_ unionByName _).orderBy(col("qid"))
    }),

    // BPE tokenizer-training merges: the first graft.bpe.rounds
    // (default 3) rounds of byte-pair encoding over the corpus
    // vocabulary (words weighted by frequency, symbols = characters)
    // — round count a per-call sysprop since r15 (VERDICT r14 item 3)
    // so the bake-off runs un-toyed depths. Each round is ONE distributed weighted
    // pair-count aggregation — the part that scales with the corpus —
    // plus a 1-row argmax collected driver-side (a scalar per round,
    // the q_dedup_clusters coordination pattern); the merge then
    // applies as a narrow map. Merge application is defined as
    // single-pass left-to-right boundary-guarded replacement on the
    // '|'-sentineled symbol string — deterministic and engine-identical
    // (java and DuckDB replace() share non-overlapping l-to-r
    // semantics); an occurrence sharing a boundary with a just-merged
    // neighbor defers to a later round (documented divergence from
    // canonical BPE's rescan, which is inherently sequential).
    "q_bpe_merges" -> ((s, d) => {
      import s.implicits._
      learnBpeMerges(s, d).toDF("round", "pair", "merged", "cnt")
        .orderBy(col("round"))
    }),

    // The ENCODE side of the tokenizer: apply the 3 learned merges to
    // every document and count the resulting BPE tokens — learn is a
    // per-round corpus aggregation (above); apply is a pure narrow map
    // with the merge table inlined as literals (at 100 TB the learned
    // vocab broadcasts; rows never shuffle to tokenize).
    "q_tokenize_bpe" -> ((s, d) =>
      bpeEncodeFrame(learnBpeMerges(s, d))(
        Tables(s, d, "documents").select(col("doc_id"), col("text")))
        .orderBy(col("doc_id"))),

    // Tokenizer-quality report (r9) — fertility (BPE tokens per word)
    // and compression (non-space chars per BPE token) PER SOURCE under
    // the learned merge table: the "how does my tokenizer treat each
    // domain" audit that decides whether a source's token budget is
    // spent on content or on fragmentation (code/URL-heavy domains
    // fragment; the budget allocator upstream assumed chars ∝ tokens).
    // The encode kernel is [[bpeCountCol]] — definitionally the
    // q_tokenize_bpe encoder — so the report can never disagree with
    // the tokenizer it audits. One corpus pass, exact integer sums per
    // source, two round-9 ratios at the end; the merge table rides as
    // literals (broadcast-sized at any corpus).
    "q_tokenizer_fertility" -> ((s, d) => {
      val merges = learnBpeMerges(s, d)
      val toksF = filter(tokens(col("text")), w => length(w) > 0)
      Tables(s, d, "documents")
        .select(col("source"),
          size(toksF).cast("long").as("ws"),
          aggregate(toksF, lit(0), (acc, w) => acc + bpeCountCol(merges)(w))
            .cast("long").as("bpe"),
          length(regexp_replace(col("text"), " ", "")).cast("long").as("ch"))
        .groupBy(col("source"))
        .agg(sum(col("ws")).as("n_ws_tokens"),
          sum(col("bpe")).as("n_bpe_tokens"),
          sum(col("ch")).as("n_chars"))
        .select(col("source"), col("n_ws_tokens"), col("n_bpe_tokens"),
          col("n_chars"),
          round(col("n_bpe_tokens").cast("double") /
            nullif(col("n_ws_tokens"), lit(0L)).cast("double"), 9)
            .as("fertility"),
          round(col("n_chars").cast("double") /
            nullif(col("n_bpe_tokens"), lit(0L)).cast("double"), 9)
            .as("chars_per_token"))
        .orderBy(col("source"))
    }),

    // BPE vocabulary-size curve (r15, with VERDICT r14 item 3's
    // un-toyed depth knob): corpus fertility under every merge-table
    // PREFIX 0..graft.bpe.rounds — merge 0 is the character baseline
    // (fertility = mean word length), each further row prices one
    // more merge. The "how many merges do I actually need" question a
    // tokenizer-training pipeline answers before committing a vocab
    // budget; fertility is non-increasing in depth by construction
    // (a merge can only shrink a segmentation) and the curve shows
    // where it flattens. ONE distinct-word pass: per-depth counts are
    // sibling columns over the word-frequency table (vocabulary-
    // sized), then a 1-row aggregate unpivoted — corpus cost is the
    // single tokenize pass regardless of depth.
    "q_bpe_vocab_curve" -> ((s, d) => {
      val merges = learnBpeMerges(s, d)
      val depths = 0 to merges.length
      val toksF = filter(tokens(col("text")), w => length(w) > 0)
      val wc = Tables(s, d, "documents")
        .select(explode(toksF).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val withCounts = depths.foldLeft(wc) { (df, k) =>
        df.withColumn(s"k$k",
          bpeCountCol(merges.take(k))(col("w")).cast("long") * col("cw"))
      }
      val aggd = withCounts.agg(sum(col("cw")).as("ws"),
        depths.map(k => sum(col(s"k$k")).as(s"s$k")): _*)
      depths.map { k =>
        aggd.select(lit(k.toLong).as("n_merges"),
          col(s"s$k").as("n_bpe_tokens"),
          round(col(s"s$k").cast("double") /
            nullif(col("ws"), lit(0L)).cast("double"), 9).as("fertility"))
      }.reduce(_ unionByName _).orderBy(col("n_merges"))
    })
  ) ++ extraQueries

  /** Unigram-LM seed floor (2-gram weighted count) — a grid constant
    * of q_unigram_lm, restated verbatim in the oracle. */
  private val UNI_FLOOR = 5L

  /** The PRUNE SCHEDULE (VERDICT r13 item 5): how many 2-grams each
    * EM round keeps, the way real SentencePiece shrinks toward its
    * target vocabulary by a per-round percentage instead of one hard
    * cut. Non-increasing by construction (a prune can only remove);
    * a sysprop read PER CALL so specs exercise a second schedule, and embedded into the generated
    * oracle SQL from the same read — both engines in lockstep under
    * any setting. Default 24 → 16: round 1 scores the full seed
    * vocabulary and keeps 24 grams, round 2 re-scores under the
    * survivors' smoothed model and keeps 16, and the final report
    * round re-segments under the end model. */
  private def uniKeepSchedule: Seq[Int] = {
    val sched = sys.props.get("graft.unigram.keep")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(24, 16))
    require(sched.nonEmpty && sched.forall(_ > 0) &&
      sched.sliding(2).forall(p => p.length < 2 || p(1) <= p(0)),
      s"graft.unigram.keep must be a non-increasing positive schedule, got $sched")
    sched
  }

  /** The q_unigram_lm trainer frames, shared with q_unigram_encode:
    * word-frequency table, then one (kept_r, probs_{r-1}) pair per
    * schedule round — kept_r is round r's pre-prune vocabulary with
    * exact Viterbi counts under the incoming model (singles
    * protected, top-keep_r 2-grams survive) — plus the final
    * add-one-smoothed post-prune probabilities the encoder runs
    * under. The M-step smoothing is the required-character guarantee
    * across rounds — a single char whose occurrences were all
    * absorbed by grams would otherwise re-enter the next round at
    * p = 0 (infinite cost) and any word forced to use it would fall
    * out of the count table, breaking the char-conservation law
    * UnigramLmSpec pins (measured: 86194/125717 chars pre-fix). */
  private final case class UniTrain(words: DataFrame,
      rounds: Seq[(DataFrame, DataFrame)], probsFinal: DataFrame)

  private def uniTrainFrames(s: SparkSession, d: String): UniTrain = {
    val schedule = uniKeepSchedule
    // spread: the tokens explode otherwise runs at the 1-split scan's
    // parallelism, and the per-word char split + every round's DP
    // fold inherit the AQE-coalesced single partition (measured
    // 1-task 1.9 s stages at sf0.1)
    val words = Tables.spread(Tables(s, d, "documents"), col("doc_id"))
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .transform(Tables.spread(_, col("w")))
      .withColumn("cs", regexp_extract_all(col("w"), lit("."), lit(0)))
      .withColumn("n", size(col("cs")))
      .persist()
    val singles = words
      .select(explode(col("cs")).as("piece"), col("cw"))
      .groupBy(col("piece")).agg(sum(col("cw")).as("sc"))
    val grams = words.filter(col("n") >= 2)
      .select(explode(transform(sequence(lit(2), col("n")), i =>
        concat(element_at(col("cs"), i - 1), element_at(col("cs"), i))))
        .as("piece"), col("cw"))
      .groupBy(col("piece")).agg(sum(col("cw")).as("sc"))
      .filter(col("sc") >= UNI_FLOOR)
    val vocab0 = singles.unionByName(grams)
    val s0 = vocab0.agg(sum(col("sc")).as("tot"))
    // The model state (probs) is VOCABULARY-sized by construction —
    // |alphabet| singles + |2-grams with weighted count >= UNI_FLOOR|
    // <= alphabet² — a scale-INDEPENDENT bound (the same bound the
    // long-standing trainedUnigramCosts collect already relies on).
    // r15 optimization (guide §2.3/§2.4, measured in
    // OPTIMIZATION_r15.md): hold it as collected LOCAL rows instead
    // of a checkpointed distributed frame, so each EM round's costs
    // ride into the Viterbi DP as ONE map literal (element_at on a
    // broadcast-literal map ≡ the old left-outer cost joins, value
    // for value) and the per-round char-position explode + two
    // shuffle joins + collect_list regroup disappear outright. Rows
    // are sorted by piece so the LocalRelation is deterministic.
    var probsRows: Array[org.apache.spark.sql.Row] =
      vocab0.crossJoin(broadcast(s0))
        .select(col("piece"),
          round(col("sc").cast("double") / col("tot"), 9).as("p"))
        .collect().sortBy(_.getString(0))
    val probsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("piece",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.DoubleType)))
    def localProbs(rows: Array[org.apache.spark.sql.Row]): DataFrame = {
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.toSeq.asJava, probsSchema)
    }
    var vocab = localProbs(probsRows).select(col("piece"))
    val rounds = scala.collection.mutable.ArrayBuffer
      .empty[(DataFrame, DataFrame)]
    schedule.foreach { keep =>
      val pin = localProbs(probsRows)
      // each round reports its FULL incoming vocabulary: a piece the
      // Viterbi paths never used reads cnt = 0 — it competes in the
      // prune and its mass stays visible
      val c = uniViterbiCountsLit(words, uniCostMap(pin))
      val kept = vocab
        .join(c, Seq("piece"), "left_outer")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .withColumn("len", length(col("piece")).cast("long"))
        .withColumn("grk",
          when(col("len") === 2L, row_number().over(
            Window.partitionBy(col("len"))
              .orderBy(col("cnt").desc, col("piece")))))
        .withColumn("kept", col("len") === 1L ||
          coalesce(col("grk") <= keep, lit(false)))
        .cut()
      rounds += ((kept, pin))
      val keptAgg = kept.filter(col("kept"))
        .agg(sum(col("cnt")).as("ktot"), count(lit(1)).as("nk"))
      probsRows = kept.filter(col("kept"))
        .crossJoin(broadcast(keptAgg))
        .select(col("piece"),
          round((col("cnt") + 1L).cast("double") /
            (col("ktot") + col("nk")).cast("double"), 9).as("p"))
        .collect().sortBy(_.getString(0))
      // == kept.filter(kept).select(piece): probs and the surviving
      // vocabulary are 1:1 by construction
      vocab = localProbs(probsRows).select(col("piece"))
    }
    UniTrain(words, rounds.toSeq, localProbs(probsRows))
  }

  /** The round-9 −ln cost table of a (vocabulary-sized, LOCAL) probs
    * frame as a Scala map. The select runs over a LocalRelation, so
    * Catalyst's ConvertToLocalRelation evaluates round(−log(p)) with
    * the engine's own expressions at plan time — zero jobs, and
    * bit-identical to what the old distributed cost projection
    * computed. */
  private def uniCostMap(probs: DataFrame): Map[String, Double] =
    probs.select(col("piece"), round(-log(col("p")), 9).as("cost"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** The trained unigram COST table (piece → round9(−ln p) under the
    * final post-prune smoothed model) as a collected map —
    * vocabulary-sized (singles + the schedule's last keep width),
    * memoized per (dataset, schedule) exactly like the BPE merge
    * table so a sweep running both unigram queries pays the
    * corpus-pass trainer once. */
  private val uniCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Double]]()

  /** Inert marker stamped into every TRAINED cost map: the encode
    * kernel looks costs up by 1- and 2-char pieces only, so an 8-char
    * key can never win a lookup — it exists so a model trained on an
    * EMPTY corpus (legitimately zero pieces) is distinguishable from
    * a map that was never trained at all, which [[unigramEncodeFrame]]
    * rejects loudly. */
  private[graft] val UNI_TRAINED = "\u0000trained"

  private[operators] def trainedUnigramModelFor(s: SparkSession,
      d: String): Map[String, Double] =
    trainedUnigramCosts(s, d)

  /** ENCODE one (doc_id, text) frame under an explicitly-passed
    * trained unigram cost map — the shared kernel of
    * q_unigram_encode and streaming drain #30 (one definition, two
    * paths; each caller trains via [[trainedUnigramModelFor]] and
    * hands its map in, so concurrent multi-dataset sweeps can never
    * encode under the wrong model). The Viterbi fold runs
    * ONCE PER DISTINCT WORD of the frame, then joins back to the
    * exploded occurrences (exactly the oracle's wp-join shape): the
    * nested higher-order fold is interpreted (non-codegen), so
    * per-OCCURRENCE evaluation was measured minutes-slow at sf0.1 on
    * the one-split fixture file, while the distinct-word frame is
    * vocabulary-shaped and shuffle-parallel — and arriving drain
    * batches with NOVEL words still segment (the fold needs only the
    * cost literal, not a trained word list). */
  private[graft] def unigramEncodeFrame(
      costs: Map[String, Double])(docs: DataFrame): DataFrame = {
    // an untrained map fails loudly; a model trained on an EMPTY
    // corpus passes (it carries the [[UNI_TRAINED]] marker), so the
    // empty-input contract holds: encoding zero docs returns zero rows
    require(costs.contains(UNI_TRAINED),
      "unigramEncodeFrame needs a trained cost map — call " +
        "trainedUnigramModelFor(s, d) and pass its result")
    val dw = docs.select(col("doc_id"),
      explode(filter(tokens(col("text")), w => length(w) > 0)).as("w"))
    // spread: the distinct's output is byte-tiny so AQE coalesces it
    // to ~1 partition, serializing the interpreted Viterbi fold —
    // the expensive step this distinct exists to bound
    val wp = Tables.spread(dw.select(col("w")).distinct(), col("w"))
      .withColumn("k", uniPieceCountCol(costs)(col("w")))
    val agg = dw.join(wp, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("k")).as("n_p"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_ws"), lit(0L)).as("n_ws_tokens"),
        coalesce(col("n_p"), lit(0L)).as("n_pieces"))
      .withColumn("pieces_per_word",
        when(col("n_ws_tokens") > 0,
          round(col("n_pieces").cast("double") / col("n_ws_tokens"), 9)))
  }

  private def trainedUnigramCosts(s: SparkSession, d: String)
      : Map[String, Double] = {
    def fp(f: java.io.File): String =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .map(p => s"${p.getName}{${fp(p)}}").mkString(",")
      else s"${f.length()}:${f.lastModified()}"
    // schedule in the key: a spec-time sysprop flip must retrain, not
    // read a model memoized under another schedule
    val key = s"$d|${uniKeepSchedule.mkString(",")}|" +
      fp(new java.io.File(d, "documents.parquet"))
    uniCache.computeIfAbsent(key, _ =>
      uniTrainFrames(s, d).probsFinal
        .select(col("piece"), round(-log(col("p")), 9).as("cost"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap +
        (UNI_TRAINED -> 0.0))
  }

  /** Viterbi piece count of one word column under a LITERAL cost
    * map — the unigram ENCODE kernel (the bpeCountCol analog): the
    * same min-plus fold as [[uniViterbiCounts]] with costs read from
    * the broadcast literal instead of a join, and the backtrack
    * collapsed to a step counter. */
  private def uniPieceCountCol(costs: Map[String, Double])(
      w: Column): Column = {
    val BIG = 1e15d
    val cm = typedlit(costs)
    val cs = regexp_extract_all(w, lit("."), lit(0))
    val n = size(cs)
    val k1s = transform(cs, c => coalesce(element_at(cm, c), lit(BIG)))
    val k2s = transform(sequence(lit(1), n), i =>
      when(i >= 2, coalesce(element_at(cm,
        concat(element_at(cs, i - 1), element_at(cs, i))), lit(BIG)))
        .otherwise(lit(BIG)))
    val vs = aggregate(sequence(lit(1), n), array(lit(0.0d)),
      (acc, i) => concat(acc, array(least(
        element_at(acc, i) + element_at(k1s, i),
        when(i >= 2, element_at(acc, i - 1) + element_at(k2s, i))
          .otherwise(lit(BIG))))))
    val chs = transform(sequence(lit(1), n), i =>
      when(i >= 2 &&
        element_at(vs, i - 1) + element_at(k2s, i) <
          element_at(vs, i) + element_at(k1s, i),
        lit(2)).otherwise(lit(1)))
    aggregate(sequence(lit(1), n),
      struct(n.as("pos"), lit(0L).as("cnt")),
      (acc, _) => {
        val pos = acc.getField("pos")
        when(pos <= 0, acc).otherwise(
          when(element_at(chs, pos) === 2,
            struct((pos - 2).as("pos"),
              (acc.getField("cnt") + 1L).as("cnt")))
          .otherwise(struct((pos - 1).as("pos"),
            (acc.getField("cnt") + 1L).as("cnt"))))
      }).getField("cnt")
  }

  /** One Viterbi-EM round of q_unigram_lm: exact piece counts of
    * every word's single best segmentation under the given piece
    * probabilities. Costs round9(-ln p) come from two vocabulary
    * joins (collected into position order; unknown 2-grams read the
    * sentinel — a word is always single-char segmentable, so the
    * sentinel never wins); the min-plus DP and its backtrack run as
    * ARRAY FOLDS (`aggregate` over positions — per-row codegen work,
    * no shuffle, any word length). Path costs are SUMS of the round-9
    * constants — no per-step rounding, so both engines compare
    * bit-identical doubles; ties prefer the single-char step (strict
    * < for the 2-gram). Returns (piece, cnt BIGINT) — exact integers,
    * bit-stable under any partitioning. */
  private def uniViterbiCounts(words: DataFrame, probs: DataFrame)
      : DataFrame = uniViterbiCountsLit(words, uniCostMap(probs))

  /** [[uniViterbiCounts]] with the cost table delivered as ONE map
    * literal instead of two left-outer joins (r15 optimization,
    * guide §2.3/§2.4): the per-position k1/k2 lookups become
    * element_at on the broadcast literal — value-identical to the
    * join+coalesce (missing key → null → BIG) — so the
    * char-position explode, both cost-join exchanges and the
    * collect_list/array_sort regroup that rebuilt per-word arrays
    * all disappear; the k1s/k2s arrays are computed directly on the
    * word row. The map is vocabulary-sized (≤ alphabet + alphabet²
    * pieces — scale-independent), the same bound the memoized encode
    * model already ships as a literal. */
  private def uniViterbiCountsLit(words: DataFrame,
      costs: Map[String, Double]): DataFrame = {
    val BIG = 1e15d
    val cm = typedlit(costs)
    val withC = words
      .select(col("cw"), col("cs"), col("n"),
        transform(col("cs"), c =>
          coalesce(element_at(cm, c), lit(BIG))).as("k1s"),
        transform(sequence(lit(1), col("n")), i =>
          when(i >= 2, coalesce(element_at(cm,
            concat(element_at(col("cs"), i - 1),
              element_at(col("cs"), i))), lit(BIG)))
            .otherwise(lit(BIG))).as("k2s"))
    // forward min-plus: vs = [v0 .. vn];
    // v_i = least(v_{i-1} + k1_i, v_{i-2} + k2_i)
    val withV = withC.withColumn("vs",
      aggregate(sequence(lit(1), col("n")), array(lit(0.0d)),
        (acc, i) => concat(acc, array(least(
          element_at(acc, i) + element_at(col("k1s"), i),
          when(i >= 2,
            element_at(acc, i - 1) + element_at(col("k2s"), i))
            .otherwise(lit(BIG)))))))
    // choice at i: the 2-gram step iff STRICTLY cheaper (ties take
    // the single — the deterministic tie rule both engines share)
    val withCh = withV.withColumn("chs",
      transform(sequence(lit(1), col("n")), i =>
        when(i >= 2 &&
          element_at(col("vs"), i - 1) + element_at(col("k2s"), i) <
            element_at(col("vs"), i) + element_at(col("k1s"), i),
          lit(2)).otherwise(lit(1))))
    // backtrack fold: walk pos from n by the chosen step widths,
    // collecting 2-gram and single positions (n iterations, no-ops
    // once pos reaches 0)
    val bt = withCh.withColumn("bt",
      aggregate(sequence(lit(1), col("n")),
        struct(col("n").as("pos"),
          array().cast("array<int>").as("gs"),
          array().cast("array<int>").as("ss")),
        (acc, _) => {
          val pos = acc.getField("pos")
          val take2 = element_at(col("chs"), pos) === 2
          when(pos <= 0, acc).otherwise(
            when(take2, struct((pos - 2).as("pos"),
              concat(acc.getField("gs"), array(pos)).as("gs"),
              acc.getField("ss").as("ss")))
            .otherwise(struct((pos - 1).as("pos"),
              acc.getField("gs").as("gs"),
              concat(acc.getField("ss"), array(pos)).as("ss"))))
        }))
    val sRows = bt.select(col("cw"), col("cs"),
        explode(col("bt.ss")).as("i"))
      .select(element_at(col("cs"), col("i")).as("piece"), col("cw"))
    val gRows = bt.select(col("cw"), col("cs"),
        explode(col("bt.gs")).as("i"))
      .select(concat(element_at(col("cs"), col("i") - 1),
        element_at(col("cs"), col("i"))).as("piece"), col("cw"))
    sRows.unionByName(gRows)
      .groupBy(col("piece"))
      .agg(sum(col("cw")).as("cnt"))
  }

  /** The q_tokenize_bpe projection over a SUPPLIED (doc_id, text)
    * frame under an explicitly-threaded merge table — the BPE analog
    * of [[unigramEncodeFrame]] (the r13 no-process-global
    * discipline), shared by the batch query and streaming drain #33
    * so the served model and the batch tokenizer are one
    * definition. Requires a real (non-empty) merge table: the learn
    * cannot train on an empty corpus (documented EmptyInputSpec
    * exclusion), so an empty list here means the caller skipped
    * training. */
  private[graft] def bpeEncodeFrame(
      merges: Seq[(Long, String, String, Long)])(
      docs: DataFrame): DataFrame = {
    require(merges.nonEmpty,
      "bpeEncodeFrame needs a trained merge table (learnBpeMerges)")
    val toksF = filter(tokens(col("text")), w => length(w) > 0)
    // spread: the per-doc encode fold is interpreted and otherwise
    // runs at the (1-split) scan's parallelism
    Tables.spread(docs, col("doc_id")).select(col("doc_id"),
        size(toksF).cast("long").as("n_ws_tokens"),
        aggregate(toksF, lit(0), (acc, w) => acc + bpeCountCol(merges)(w))
          .cast("long").as("n_bpe_tokens"))
      .withColumn("bpe_per_word",
        when(col("n_ws_tokens") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 9)))
  }

  /** Memoized merge-table access for callers OUTSIDE the pack (the
    * streaming drain) — the unigram trainedUnigramModelFor analog. */
  private[graft] def trainedBpeMergesFor(s: SparkSession, d: String)
      : Seq[(Long, String, String, Long)] = learnBpeMerges(s, d)

  /** BPE token count of one word column under the learned merge
    * table — the ENCODE kernel, shared by q_tokenize_bpe (per-doc) and
    * q_tokenizer_fertility (per-source) so the audit and the tokenizer
    * are one definition. */
  private def bpeCountCol(merges: Seq[(Long, String, String, Long)])(
      w: Column): Column = {
    val seq0 = concat(lit("|"),
      array_join(regexp_extract_all(w, lit("."), lit(0)), "|"), lit("|"))
    val seqN = merges.foldLeft(seq0) { case (c, (_, pair, merged, _)) =>
      replace(c, lit("|" + pair.replace(" ", "|") + "|"),
        lit("|" + merged + "|"))
    }
    size(split(trim(seqN, "|"), "\\|"))
  }

  /** The first ROUNDS byte-pair-encoding merges over the corpus
    * vocabulary — shared by q_bpe_merges (the merge table itself) and
    * q_tokenize_bpe (which applies them). Returns (round, "l r",
    * merged, weighted count). Memoized per dataset dir: the learn is
    * fully deterministic, and without the memo a sweep that runs both
    * BPE queries pays the 3-round train (3 agg+collect jobs) twice.
    * The memo key folds in the source file's (size, mtime) fingerprint
    * so a documents.parquet regenerated under the same path within one
    * long-lived JVM (spec session, dev REPL) can never serve a stale
    * merge table — correctness paths don't depend on clearMemos(). */
  private val bpeCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, String, String, Long)]]()

  /** Drop JVM-side memos. Bench calls this between timed reps so every
    * measurement pays its true cost; Verify/specs keep the memo (they
    * measure correctness, not time). */
  def clearMemos(): Unit = { bpeCache.clear(); uniCache.clear() }
  private def learnBpeMerges(s: SparkSession, d: String)
      : Seq[(Long, String, String, Long)] = {
    // fingerprint handles ALL layouts: a single file (length+mtime), a
    // flat directory, and a PARTITIONED directory tree — a directory's
    // own length/mtime does not change when files inside it are
    // overwritten in place, so fold every file's (name, length, mtime)
    // RECURSIVELY. The full fingerprint string is the cache key (no
    // 32-bit hashCode collapse — a collision would silently serve a
    // stale merge table).
    def fp(f: java.io.File): String =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .map(p => s"${p.getName}{${fp(p)}}").mkString(",")
      else s"${f.length()}:${f.lastModified()}"
    val key = s"$d|r=$bpeRounds|${fp(new java.io.File(d, "documents.parquet"))}"
    bpeCache.computeIfAbsent(key, _ => learnBpeMergesUncached(s, d))
  }

  /** BPE merge-round count (VERDICT r14 item 3 — un-toy the bake-off
    * side): read PER CALL like graft.unigram.keep, embedded into the
    * generated oracle SQL from the same read so both engines train
    * the identical merge table under any setting. Default 3 keeps
    * the per-round sweep cost (each round = one corpus agg + a 1-row
    * argmax); the bake-off row in BASELINE.md runs at 12. */
  private def bpeRounds: Int = {
    val r = sys.props.get("graft.bpe.rounds").map(_.trim.toInt).getOrElse(3)
    require(r >= 1 && r <= 64, s"graft.bpe.rounds must be in [1,64], got $r")
    r
  }

  private def learnBpeMergesUncached(s: SparkSession, d: String)
      : Seq[(Long, String, String, Long)] = {
    val ROUNDS = bpeRounds
    def syms = split(trim(col("seq"), "|"), "\\|")
    val words0 = Tables.spread(Tables(s, d, "documents"), col("doc_id"))
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .select(concat(lit("|"),
          array_join(regexp_extract_all(col("w"), lit("."), lit(0)), "|"),
          lit("|")).as("seq"), col("cnt"))
        // spread: AQE coalesces the vocabulary frame to ~1 partition
        // by bytes; every merge round's pair explode + agg then runs
        // single-task. High-cardinality key, per-row work — the
        // global argmax (orderBy + limit 1) is partition-invariant.
        .transform(Tables.spread(_, col("seq")))
        .persist()
      var words = words0
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
      for (r <- 1 to ROUNDS) {
        // ordering by the "l r" string equals ordering by (l, r):
        // symbols never contain a space and ' ' sorts below word chars
        val top = words.filter(size(syms) >= 2)
          .select(col("cnt"), explode(transform(sequence(lit(1), size(syms) - 1),
            i => concat(element_at(syms, i), lit(" "),
              element_at(syms, i + 1)))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("pair"))
          .limit(1).collect()(0)
        val (pair, c) = (top.getString(0), top.getLong(1))
        val merged = pair.replace(" ", "")
        out += ((r.toLong, pair, merged, c))
        words = words.withColumn("seq",
          replace(col("seq"), lit("|" + pair.replace(" ", "|") + "|"),
            lit("|" + merged + "|")))
      }
      words0.unpersist(false)
      out.toSeq
  }

  /** Continuation of the query registry — purely a file-layout split
    * (object defs are order-independent; SparkEntry's require() guards
    * against key collisions across the concatenated maps). */
  private def extraQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PMI collocation mining: rank word bigrams by pointwise mutual
    // information ln(p(ab) / (p(a)·p(b))) — the classic collocation
    // extractor (and a phrase-vocabulary builder for tokenizer
    // training). Two uniform-key aggregations (unigrams, bigrams) and
    // two joins of the bigram table against the word table — the word
    // marginals table grows with vocabulary, NOT corpus, and carries no
    // broadcast hint (AQE decides, same rule as q_tfidf). Corpus totals
    // are exact-integer 1-row broadcasts. Count floor 5 keeps the
    // hapax-pair noise PMI is known for out of the top-k.
    "q_pmi_bigrams" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val uni = docs.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val nt = uni.agg(sum(col("cw")).cast("double").as("n_tokens"))
      val big = docs.filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)))).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("c_ab"))
      val nb = big.agg(sum(col("c_ab")).cast("double").as("n_bigrams"))
      big.filter(col("c_ab") >= 5)
        .withColumn("w1", split(col("gram"), " ").getItem(0))
        .withColumn("w2", split(col("gram"), " ").getItem(1))
        .join(uni.select(col("w").as("w1"), col("cw").as("ca")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cw").as("cb")), Seq("w2"))
        .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
        .select(col("gram"), col("c_ab"),
          round(log((col("c_ab").cast("double") / col("n_bigrams")) /
            ((col("ca").cast("double") / col("n_tokens")) *
              (col("cb").cast("double") / col("n_tokens")))), 9).as("pmi"))
        .orderBy(col("pmi").desc, col("gram")).limit(20)
    }),

    // Unigram-LM tokenizer training (Kudo, ACL 2018 — the
    // SentencePiece algorithm; VERDICT r12 item 4): the OTHER
    // tokenizer-training family next to q_bpe_merges, so a pipeline
    // can choose between merge-based (BPE) and probabilistic
    // (unigram) vocabularies from measured output. Pieces are single
    // chars (required symbols — never pruned, SentencePiece's
    // required-character rule) plus corpus 2-grams with weighted
    // count >= UNI_FLOOR. Estimation is VITERBI (hard) EM: the
    // E-step assigns each word its single best segmentation under
    // min-plus costs round9(-ln p) — path costs are SUMS of round-9
    // constants with no per-step rounding, so both engines compare
    // bit-identical doubles and the piece counts come out as EXACT
    // INTEGERS × exact word frequencies. Soft forward-backward
    // expected counts were implemented first and REJECTED, measured:
    // a sum-product lattice needs a round() after every fused
    // multiply-add, the HALF_UP/HALF_EVEN boundary between the
    // engines' double rounding bites once per ~1e5 chained steps and
    // drifts e_cnt by 2.4e-6 at sf0.001 — and 9-decimal fixed point
    // underflows the lattice mass of every word past ~8 chars.
    // Min-plus over exact cost constants has neither failure mode at
    // any word length. Ties prefer the single-char step
    // (deterministic, both engines strict-<). Rounds follow the
    // PRUNE SCHEDULE [[uniKeepSchedule]] (default 24 → 16,
    // graft.unigram.keep, the SentencePiece shrink-toward-target
    // discipline): round r scores the incoming vocabulary and keeps
    // the schedule's r-th-best 2-gram count by (count desc, piece);
    // a final report round re-segments under the end model's
    // re-normalized probabilities (mass redistributes onto kept
    // pieces). Scale: everything is vocabulary-sized after the one
    // corpus pass building the word-frequency table (the
    // q_bpe_merges shape); the Viterbi DP and backtrack are per-row
    // array folds over word length — no shuffle, no recursion in the
    // engine. Output: (rnd, piece, len, cnt, prob_in, kept);
    // UnigramLmSpec pins the prune-round invariants.
    "q_unigram_lm" -> ((s, d) => {
      val t = uniTrainFrames(s, d)
      val n = t.rounds.length
      val perRound = t.rounds.zipWithIndex.map { case ((kept, pin), i) =>
        kept.join(pin, Seq("piece"))
          .select(lit((i + 1).toLong).as("rnd"), col("piece"), col("len"),
            col("cnt"), col("p").as("prob_in"), col("kept"))
      }
      val cF = uniViterbiCounts(t.words, t.probsFinal)
      val last = t.rounds.last._1.filter(col("kept"))
        .select(col("piece"), col("len"))
        .join(cF, Seq("piece"), "left_outer")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .join(t.probsFinal, Seq("piece"))
        .select(lit((n + 1).toLong).as("rnd"), col("piece"), col("len"),
          col("cnt"), col("p").as("prob_in"), lit(true).as("kept"))
      (perRound :+ last).reduce(_ unionByName _)
        .orderBy(col("rnd"), col("piece"))
    }),

    // The ENCODE side of the unigram tokenizer — q_tokenize_bpe's
    // twin under the TRAINED unigram model (the post-prune smoothed
    // probabilities q_unigram_lm's round 2 runs under): every
    // document is Viterbi-segmented and its piece count reported
    // next to the whitespace token count. Learn is the corpus-pass
    // trainer above (memoized per dataset like the BPE merges —
    // the trained model is vocabulary-sized, ~40 rows); APPLY is a
    // pure narrow map with the cost table inlined as a literal map —
    // at 100 TB the learned vocab broadcasts and rows never shuffle
    // to tokenize, exactly the q_tokenize_bpe posture. Counts are
    // exact integers (the min-plus fold; no per-step rounding).
    "q_unigram_encode" -> ((s, d) => {
      // the model trains on the FULL corpus (memoized), then apply is
      // a pure narrow map — one definition, batch + drain #30
      val model = trainedUnigramModelFor(s, d)
      Tables(s, d, "documents").select(col("doc_id"), col("text"))
        .transform(unigramEncodeFrame(model))
        .orderBy(col("doc_id"))
    }),

    // TOKENIZER BAKE-OFF — the decision query the two trainer families
    // exist to feed (q_tokenizer_fertility's comment promises "choose
    // between merge-based and probabilistic vocabularies from measured
    // output"; this is that choice, measured): per source, the SAME
    // corpus encoded under BOTH trained tokenizers — the
    // graft.bpe.rounds-merge BPE table and the schedule-pruned
    // unigram LM — with each family's
    // fertility (pieces per whitespace word) and the per-source winner
    // (fewer pieces = more content per token budget; ties explicit).
    // Both models are memoized corpus-pass trainers; the encode is one
    // pass over DISTINCT words (the q_unigram_encode device — both
    // count kernels are interpreted folds, so per-occurrence
    // evaluation pays vocabulary×occurrence instead of vocabulary)
    // joined back to occurrences. At 100 TB both models broadcast as
    // literals and the per-word frame is vocabulary-shaped —
    // tokenizer selection costs one corpus pass regardless of corpus.
    "q_tokenizer_compare" -> ((s, d) => {
      // the two trainers under comparison are independent collect-
      // bounded driver loops (BPE argmax rounds; unigram EM rounds)
      // over their own frames — overlap them (Tables.inParallel,
      // guide §2.6) instead of serializing the two training passes;
      // memos are ConcurrentHashMaps, models identical either way
      val (merges, uni) = Tables.inParallel(
        learnBpeMerges(s, d), trainedUnigramModelFor(s, d))
      val dw = Tables.spread(Tables(s, d, "documents"), col("doc_id"))
        .select(col("source"),
          explode(filter(tokens(col("text")), w => length(w) > 0)).as("w"))
      // spread: both count kernels are interpreted folds and the
      // distinct's byte-tiny output AQE-coalesces to ~1 partition
      // (measured 1-task ~1 s stages) — parallelize the fold pass
      val wp = Tables.spread(dw.select(col("w")).distinct(), col("w"))
        .withColumn("kb", bpeCountCol(merges)(col("w")).cast("long"))
        .withColumn("ku", uniPieceCountCol(uni)(col("w")))
      dw.join(wp, Seq("w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_ws_tokens"),
          sum(col("kb")).as("n_bpe_tokens"),
          sum(col("ku")).as("n_uni_pieces"))
        .select(col("source"), col("n_ws_tokens"), col("n_bpe_tokens"),
          col("n_uni_pieces"),
          round(col("n_bpe_tokens").cast("double") /
            nullif(col("n_ws_tokens"), lit(0L)).cast("double"), 9)
            .as("bpe_fertility"),
          round(col("n_uni_pieces").cast("double") /
            nullif(col("n_ws_tokens"), lit(0L)).cast("double"), 9)
            .as("uni_fertility"),
          when(col("n_uni_pieces") < col("n_bpe_tokens"), lit("unigram"))
            .when(col("n_bpe_tokens") < col("n_uni_pieces"), lit("bpe"))
            .otherwise(lit("tie")).as("winner"))
        .orderBy(col("source"))
    }),

    // Winnowing fingerprints (SIGMOD 2003 / MOSS): rolling K-gram
    // Rabin-Karp hash + sliding-window minima through the codegen'd
    // graft.functions.Winnow expression — O(n) per document inside
    // whole-stage codegen, vs the O(n·K) per-gram recompute a SQL
    // formulation (and the oracle) pays. One (doc_id, fp) row per
    // distinct fingerprint: equal fp across docs = shared K-gram
    // region = near-dup candidate pair, found by a plain groupBy on fp
    // at any scale.
    "q_fingerprint_winnow" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.WinnowExpression.winnow(col("text"))).as("fp"))
        .orderBy(col("doc_id"), col("fp"))
    }),

    // T6: stopword/short/url-token filtering.
    "q_stopword_filter" -> ((s, d) => {
      val kept = filter(tokens(col("text")), keepToken _)
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(kept).cast("long").as("n_kept"),
        try_element_at(kept, lit(1)).as("first_kept"))
        .orderBy(col("doc_id"))
    }),

    // T2: sentence splitting via regex extract-all.
    "q_sentence_split" -> ((s, d) => {
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(concat(col("text"), lit(".")),
          lit("[^.!?]+[.!?]+"), lit(0))).cast("long").as("n_sentences"))
        .orderBy(col("doc_id"))
    }),

    // T9/A4: per-document top-3 terms with confidence = 100*tf (the
    // reference's {confidence, name} topic-term shape, topics.js:37-47).
    "q_tf_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables(s, d, "documents")
        .select(col("doc_id"), explode(filter(tokens(col("text")), keepToken _)).as("term"))
      val counts = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
      val wTotal = Window.partitionBy(col("doc_id"))
      val wRank = Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("term"))
      counts
        .withColumn("doc_total", sum(col("cnt")).over(wTotal))
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term").as("name"),
          (lit(100.0d) * col("cnt") / col("doc_total")).as("confidence"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // TF-IDF top terms per document — the classic quality/relevance
    // scoring op. df table + corpus size via side aggs (no whole-table
    // window), ln in both engines, round(9) absorbs libm ulp
    // differences. The per-doc and per-term aggregates grow with the
    // corpus, so they carry NO broadcast hint — AQE picks broadcast
    // when the measured size is under the threshold and falls back to
    // a shuffle join when it is not; only the 1-row corpus count is
    // hinted.
    "q_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables(s, d, "documents")
        .select(col("doc_id"), explode(filter(tokens(col("text")), keepToken _)).as("term"))
      val counts = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
      val docTotals = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("doc_total"))
      val dfTable = counts.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = counts.select(countDistinct(col("doc_id")).as("n_docs"))
      val wRank = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      counts
        .join(docTotals, Seq("doc_id"))
        .join(dfTable, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round(
          (col("cnt").cast("double") / col("doc_total")) *
            (log((col("n_docs").cast("double") + 1) / (col("df").cast("double") + 1)) + 1), 9))
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // T5: Porter-stemmed corpus top-50 (no SQL oracle — custom stemmer;
    // covered by PorterStemmerSpec unit tests instead). Stemming runs
    // through the codegen'd Stem expression, not the UDF: the whole
    // explode→stem→count pipeline stays in one fused codegen stage.
    "q_stem_topk" -> ((s, d) => {
      // Stem the VOCABULARY, not the token stream: aggregate word
      // counts first (map-side combine does most of the work), then
      // run the Porter kernel once per DISTINCT word and re-sum by
      // stem — identical counts (stemming is per-word deterministic),
      // ~vocab/tokens fewer kernel calls, and the second shuffle is
      // vocab-sized. The right layout at any corpus size: per-token
      // stemming scales with data volume, per-vocab with vocabulary.
      Tables(s, d, "documents")
        .select(explode(filter(tokens(col("text")), keepToken _)).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
        .select(graft.functions.StemExpression.stem(col("word")).as("stem"),
          col("wcnt"))
        .groupBy(col("stem")).agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("stem")).limit(50)
    })
  )

  /** The q_unigram_lm TRAINING prefix (seed vocab, then per schedule
    * round r: Viterbi counts under uprobs{r-1} → prune at the round's
    * keep width → smoothed post-prune probs uprobs{r}) — shared by
    * the q_unigram_lm and q_unigram_encode oracles. A def: the
    * schedule is re-read per call, so a spec-time sysprop flip keeps
    * both engines in lockstep. */
  private def uniTrainDuck: String = {
    val head =
      s"""uwords AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw,
         |    regexp_extract_all(w, '.') AS cs,
         |    CAST(len(regexp_extract_all(w, '.')) AS BIGINT) AS n
         |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
         |        FROM documents) t
         |  WHERE length(w) > 0 GROUP BY w),
         |usingles AS (SELECT piece, CAST(SUM(cw) AS BIGINT) AS sc FROM (
         |    SELECT unnest(cs) AS piece, cw FROM uwords) t GROUP BY piece),
         |ugrams AS (SELECT piece, sc FROM (
         |    SELECT piece, CAST(SUM(cw) AS BIGINT) AS sc FROM (
         |      SELECT unnest(list_transform(range(2, n + 1), i ->
         |        cs[CAST(i - 1 AS INTEGER)] || cs[CAST(i AS INTEGER)]))
         |        AS piece, cw
         |      FROM uwords WHERE n >= 2) t GROUP BY piece) u
         |  WHERE sc >= $UNI_FLOOR),
         |uvocab0 AS (SELECT * FROM usingles UNION ALL SELECT * FROM ugrams),
         |uprobs0 AS (SELECT piece,
         |    round(CAST(sc AS DOUBLE) /
         |      (SELECT CAST(SUM(sc) AS DOUBLE) FROM uvocab0), 9) AS p
         |  FROM uvocab0),
         |uposx AS MATERIALIZED (SELECT w, cw, n, cs,
         |  unnest(range(1, n + 1)) AS i
         |        FROM uwords)""".stripMargin
    val steps = uniKeepSchedule.zipWithIndex.map { case (keep, i0) =>
      val r = i0 + 1
      s"""${uniRoundDuck(s"$r", s"uprobs${r - 1}")},
         |ukept$r AS MATERIALIZED (
         |  SELECT piece, cnt, CAST(length(piece) AS BIGINT) AS len,
         |    (length(piece) = 1 OR COALESCE(rk <= $keep, FALSE)) AS kept
         |  FROM (SELECT v.piece, COALESCE(c.cnt, 0) AS cnt,
         |          CASE WHEN length(v.piece) = 2 THEN
         |            ROW_NUMBER() OVER (PARTITION BY length(v.piece)
         |              ORDER BY COALESCE(c.cnt, 0) DESC, v.piece) END AS rk
         |        FROM uvocab${r - 1} v
         |        LEFT JOIN cnt$r c ON c.piece = v.piece) t),
         |uvocab$r AS (SELECT piece, cnt AS sc FROM ukept$r WHERE kept),
         |uprobs$r AS MATERIALIZED (
         |  SELECT piece, round(CAST(cnt + 1 AS DOUBLE) /
         |      (SELECT CAST(SUM(cnt) + COUNT(*) AS DOUBLE)
         |       FROM ukept$r WHERE kept), 9) AS p
         |  FROM ukept$r WHERE kept)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** One q_unigram_lm Viterbi round as DuckDB CTEs
    * (suffix-parameterized like descentStepsDuck): lattice positions
    * joined to `$probsCte`'s round-9 log-costs, the min-plus DP and
    * its backtrack as RECURSIVE CTEs — the same no-per-step-rounding
    * recurrence the engine folds — ending at exact integer counts
    * `cnt$sfx(piece, cnt)`. */
  private def uniRoundDuck(sfx: String, probsCte: String): String =
    s"""ucosts$sfx AS MATERIALIZED (SELECT piece, round(-ln(p), 9) AS cost
       |  FROM $probsCte),
       |pos$sfx AS MATERIALIZED (
       |  SELECT x.w, x.cw, x.n, x.i,
       |    x.cs[CAST(x.i AS INTEGER)] AS c1,
       |    CASE WHEN x.i >= 2 THEN x.cs[CAST(x.i - 1 AS INTEGER)] ||
       |      x.cs[CAST(x.i AS INTEGER)] END AS g2,
       |    COALESCE(ka.cost, 1e15) AS k1, COALESCE(kb.cost, 1e15) AS k2
       |  FROM uposx x
       |  LEFT JOIN ucosts$sfx ka ON ka.piece = x.cs[CAST(x.i AS INTEGER)]
       |  LEFT JOIN ucosts$sfx kb ON x.i >= 2 AND
       |    kb.piece = x.cs[CAST(x.i - 1 AS INTEGER)] ||
       |      x.cs[CAST(x.i AS INTEGER)]),
       |vit$sfx(w, i, v, vm1) AS (
       |  SELECT w, CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE),
       |    CAST(1e15 AS DOUBLE) FROM uwords
       |  UNION ALL
       |  SELECT p.w, p.i,
       |    least(vr.v + p.k1,
       |      CASE WHEN p.i >= 2 THEN vr.vm1 + p.k2 ELSE 1e15 END),
       |    vr.v
       |  FROM vit$sfx vr JOIN pos$sfx p ON p.w = vr.w AND p.i = vr.i + 1),
       |bt$sfx(w, pos, piece) AS (
       |  SELECT w, n, CAST(NULL AS VARCHAR) FROM uwords
       |  UNION ALL
       |  SELECT b.w,
       |    CASE WHEN b.pos >= 2 AND v2.v + p.k2 < v1.v + p.k1
       |         THEN b.pos - 2 ELSE b.pos - 1 END,
       |    CASE WHEN b.pos >= 2 AND v2.v + p.k2 < v1.v + p.k1
       |         THEN p.g2 ELSE p.c1 END
       |  FROM bt$sfx b
       |  JOIN pos$sfx p ON p.w = b.w AND p.i = b.pos
       |  JOIN vit$sfx v1 ON v1.w = b.w AND v1.i = b.pos - 1
       |  LEFT JOIN vit$sfx v2 ON v2.w = b.w AND v2.i = b.pos - 2
       |  WHERE b.pos > 0),
       |cnt$sfx AS (SELECT b.piece, CAST(SUM(ww.cw) AS BIGINT) AS cnt
       |  FROM bt$sfx b JOIN uwords ww ON ww.w = b.w
       |  WHERE b.piece IS NOT NULL GROUP BY b.piece)""".stripMargin

  /** The BPE learn CTE prefix (w0, then p{r}/b{r}[/w{r}] per round)
    * — GENERATED for [[bpeRounds]] rounds from the same per-call
    * sysprop read the Spark trainer uses (the graft.unigram.keep
    * recipe), so both engines unroll the identical merge chain under
    * any setting. The last round emits no w{R}: nothing reads the
    * applied table after the final argmax. A def, not a val: the
    * round count is re-read per oracle generation. */
  private def bpeLearnSqlDuck: String = {
    val head =
      """w0 AS MATERIALIZED (
        |  SELECT '|' || array_to_string(regexp_extract_all(w, '.'), '|') || '|'
        |      AS seq, cnt
        |  FROM (SELECT w, COUNT(*) AS cnt FROM (
        |          SELECT unnest(string_split(lower(text), ' ')) AS w
        |          FROM documents) t
        |        WHERE length(w) > 0 GROUP BY w) v)""".stripMargin
    val rounds = (1 to bpeRounds).map { r =>
      val core =
        s"""p$r AS (
           |  SELECT pair, SUM(cnt) AS c FROM (
           |    SELECT unnest(list_transform(range(1, len(ss)),
           |      i -> ss[CAST(i AS INTEGER)] || ' ' ||
           |           ss[CAST(i + 1 AS INTEGER)])) AS pair, cnt
           |    FROM (SELECT string_split(trim(seq, '|'), '|') AS ss, cnt
           |          FROM w${r - 1}) x
           |    WHERE len(ss) >= 2) t
           |  GROUP BY pair),
           |b$r AS (SELECT pair, c FROM p$r ORDER BY c DESC, pair LIMIT 1)""".stripMargin
      if (r == bpeRounds) core
      else core +
        s""",
           |w$r AS MATERIALIZED (SELECT replace(seq,
           |         (SELECT '|' || replace(pair, ' ', '|') || '|' FROM b$r),
           |         (SELECT '|' || replace(pair, ' ', '') || '|' FROM b$r))
           |         AS seq, cnt FROM w${r - 1})""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** The merge-scalar CTE (t{r} = '|l|r|' target, m{r} = '|lr|'
    * replacement per round) the encode lambdas cross-join so the
    * merge table rides as columns — generated for [[bpeRounds]]. */
  private def bpeMmDuck: String = {
    val cols = (1 to bpeRounds).map { r =>
      s"""  (SELECT '|' || replace(pair, ' ', '|') || '|' FROM b$r) AS t$r,
         |  (SELECT '|' || replace(pair, ' ', '') || '|' FROM b$r) AS m$r""".stripMargin
    }.mkString(",\n")
    s"mm AS (SELECT\n$cols)"
  }

  /** The encode replace chain over a sentineled symbol string —
    * round r's replace wraps round r-1's, exactly the Spark
    * [[bpeCountCol]] foldLeft. `depth` < bpeRounds gives the
    * merge-table PREFIX chain (q_bpe_vocab_curve's per-depth
    * encodes). */
  private def bpeReplDuck(inner: String, depth: Int = -1): String = {
    val d = if (depth < 0) bpeRounds else depth
    (1 to d).foldLeft(inner)((acc, r) =>
      s"replace($acc, mm.t$r, mm.m$r)")
  }

  /** DuckDB twin of the Winnow kernel (`WinnowExpression.winnow`) over
    * the docs of `src`: every 8-char rolling hash h at position i, and
    * wins = each window-of-4 minimum fp with the doc's hash count nh. */
  private[operators] def winnowDuck(src: String): String =
    s"""positions AS (
       |  SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS i
       |  FROM $src),
       |hashes AS (
       |  SELECT doc_id, i,
       |    CAST(list_sum(list_transform(range(0, 8), j ->
       |      ascii(substr(text, CAST(i + j AS INTEGER), 1)) *
       |      ([27512614111, 887503681, 28629151, 923521,
       |        29791, 961, 31, 1])[CAST(j + 1 AS INTEGER)])) AS BIGINT)
       |      % 1048576 AS h
       |  FROM positions),
       |wins AS (
       |  SELECT doc_id, i, h,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS nh
       |  FROM hashes)""".stripMargin

  def oracles: Map[String, String] = Map(
    // the Viterbi EM restated: recursive-CTE min-plus DP + backtrack
    // per word, exact integer counts, the prune-schedule rounds plus
    // the final re-segmentation round
    "q_unigram_lm" -> {
      val n = uniKeepSchedule.length
      val perRound = (1 to n).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS rnd, k.piece, k.len, k.cnt,
           |  p.p AS prob_in, k.kept
           |FROM ukept$r k JOIN uprobs${r - 1} p ON p.piece = k.piece""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH RECURSIVE $uniTrainDuck,
         |${uniRoundDuck(s"${n + 1}", s"uprobs$n")}
         |$perRound
         |UNION ALL
         |SELECT CAST(${n + 1} AS BIGINT), k.piece, k.len,
         |  COALESCE(cf.cnt, 0) AS cnt, pn.p, TRUE
         |FROM ukept$n k
         |LEFT JOIN cnt${n + 1} cf ON cf.piece = k.piece
         |JOIN uprobs$n pn ON pn.piece = k.piece
         |WHERE k.kept
         |ORDER BY rnd, piece""".stripMargin
    },

    // the trained model's final backtrack already carries every
    // word's best segmentation — per-word piece counts fall out of
    // the last bt for free, then one doc-words join
    "q_unigram_encode" -> {
      val n = uniKeepSchedule.length
      s"""WITH RECURSIVE $uniTrainDuck,
         |${uniRoundDuck(s"${n + 1}", s"uprobs$n")},
         |wp AS (SELECT b.w, CAST(COUNT(b.piece) AS BIGINT) AS k
         |       FROM bt${n + 1} b WHERE b.piece IS NOT NULL GROUP BY b.w),
         |docw AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents) t WHERE length(w) > 0),
         |agg AS (SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ws,
         |    CAST(SUM(wp.k) AS BIGINT) AS n_p
         |  FROM docw d JOIN wp ON wp.w = d.w GROUP BY d.doc_id)
         |SELECT doc.doc_id,
         |  COALESCE(agg.n_ws, 0) AS n_ws_tokens,
         |  COALESCE(agg.n_p, 0) AS n_pieces,
         |  CASE WHEN COALESCE(agg.n_ws, 0) > 0 THEN
         |    round(CAST(agg.n_p AS DOUBLE) / agg.n_ws, 9) END
         |    AS pieces_per_word
         |FROM documents doc LEFT JOIN agg ON agg.doc_id = doc.doc_id
         |ORDER BY doc.doc_id""".stripMargin
    },

    // same checkpoints, first-occurrence frame, grid OLS
    "q_heaps_law" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      w -> length(w) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |firsts AS (
        |  SELECT w, MIN(doc_id) AS first_doc FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY w),
        |rng AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM docs),
        |edges AS (
        |  SELECT CAST(cp AS BIGINT) AS cp,
        |    lo + ((hi - lo + 1) * cp) // 20 - 1 AS edge
        |  FROM (SELECT unnest(range(1, 21)) AS cp) c, rng),
        |tok AS (
        |  SELECT cp, edge,
        |    CAST(SUM(CASE WHEN doc_id <= edge THEN n_tok ELSE 0 END)
        |      AS BIGINT) AS cum_tokens,
        |    CAST(SUM(CASE WHEN doc_id <= edge THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cum_docs
        |  FROM docs, edges GROUP BY cp, edge),
        |voc AS (
        |  SELECT cp,
        |    CAST(SUM(CASE WHEN first_doc <= edge THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cum_vocab
        |  FROM firsts, edges GROUP BY cp),
        |pts AS (
        |  SELECT tok.cp, edge, cum_docs, cum_tokens, cum_vocab,
        |    round(ln(CAST(greatest(cum_tokens, 1) AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(greatest(cum_vocab, 1) AS DOUBLE)), 9) AS y
        |  FROM tok JOIN voc ON tok.cp = voc.cp),
        |moms AS (
        |  SELECT *,
        |    CAST(COUNT(*) OVER () AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(24,9))) OVER () AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(24,9))) OVER () AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(24,9))) OVER ()
        |      AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(24,9))) OVER ()
        |      AS DOUBLE) AS sxx
        |  FROM pts)
        |SELECT cp, edge, cum_docs, cum_tokens, cum_vocab,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |    AS heaps_beta
        |FROM moms ORDER BY cp""".stripMargin,

    // vocab-frame ranks, same grid OLS
    "q_zipf" ->
      """WITH freq AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY w),
        |ranked AS (
        |  SELECT w, f, CAST(ROW_NUMBER() OVER (ORDER BY f DESC, w)
        |    AS BIGINT) AS rank
        |  FROM freq),
        |top AS (
        |  SELECT *, round(ln(CAST(rank AS DOUBLE)), 9) AS x,
        |    round(ln(CAST(f AS DOUBLE)), 9) AS y
        |  FROM ranked WHERE rank <= 100),
        |moms AS (
        |  SELECT *,
        |    CAST(COUNT(*) OVER () AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(24,9))) OVER () AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(24,9))) OVER () AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(24,9))) OVER ()
        |      AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(24,9))) OVER ()
        |      AS DOUBLE) AS sxx
        |  FROM top)
        |SELECT rank, w AS word, f,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |    AS zipf_slope
        |FROM moms ORDER BY rank""".stripMargin,

    // same identity, same round-12 term sums
    "q_entropy_gate" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM chars WHERE length(ch) > 0 GROUP BY doc_id, ch),
        |r AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)),
        |      12) AS DECIMAL(28,12))) AS slog
        |  FROM g GROUP BY doc_id)
        |SELECT doc_id, n_chars, n_distinct,
        |  round(ln(CAST(n_chars AS DOUBLE)) -
        |    CAST(slog AS DOUBLE) / n_chars, 9) AS entropy_nats,
        |  round(ln(CAST(n_chars AS DOUBLE)) -
        |    CAST(slog AS DOUBLE) / n_chars, 9) < 2.5 AS is_low_entropy
        |FROM r ORDER BY doc_id""".stripMargin,

    // same exact squares, same two final divisions
    "q_simpson_diversity" ->
      """WITH g AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS ni
        |  FROM documents GROUP BY source, lang),
        |r AS (
        |  SELECT source, CAST(SUM(ni) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_langs,
        |    CAST(SUM(ni * ni) AS BIGINT) AS ssq
        |  FROM g GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  round(CAST(ssq AS DOUBLE) /
        |    CAST(n_docs * n_docs AS DOUBLE), 9) AS simpson,
        |  round(CAST(n_docs * n_docs AS DOUBLE) /
        |    CAST(ssq AS DOUBLE), 9) AS effective_langs
        |FROM r ORDER BY source""".stripMargin,

    // same hash-Gumbel keys, same 2^52-shifted uniform
    "q_dp_topk" ->
      """WITH freq AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY w),
        |keyed AS (
        |  SELECT w, f,
        |    CAST(round(0.05 * f - ln(-ln(
        |      (CAST(('0x' || substr(md5(w), 1, 13)) AS BIGINT) + 1.0)
        |        / 4503599627370497.0)), 9) AS DECIMAL(18,9)) AS es_key
        |  FROM freq),
        |rel AS (
        |  SELECT w, f, es_key,
        |    CAST(row_number() OVER (ORDER BY es_key DESC, w) AS BIGINT)
        |      AS release_rank
        |  FROM keyed QUALIFY release_rank <= 10)
        |SELECT release_rank, r.w, r.f,
        |  CAST(1 + (SELECT COUNT(*) FROM freq q
        |    WHERE q.f > r.f OR (q.f = r.f AND q.w < r.w)) AS BIGINT)
        |    AS true_rank
        |FROM rel r ORDER BY release_rank""".stripMargin,

    // same rounded-then-scaled weights, intervals and integer probes
    "q_negative_sampling" ->
      """WITH freq AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY w),
        |wt AS (
        |  SELECT w, f,
        |    CAST(round(power(f, 0.75) * 1000, 0) AS BIGINT) AS wi
        |  FROM freq),
        |cumt AS (
        |  SELECT w, f, wi,
        |    CAST(SUM(wi) OVER (ORDER BY f DESC, w
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hi
        |  FROM wt),
        |tot AS (SELECT CAST(SUM(wi) AS BIGINT) AS wsum FROM wt),
        |probes AS (
        |  SELECT center, j,
        |    (CAST(('0x' || substr(md5(center || '#' ||
        |        CAST(j AS VARCHAR)), 1, 5)) AS BIGINT) * wsum)
        |      // 1048576 AS t
        |  FROM (SELECT w AS center FROM freq ORDER BY f DESC, w LIMIT 20)
        |  CROSS JOIN (SELECT unnest(range(1, 6)) AS j)
        |  CROSS JOIN tot)
        |SELECT center, j, c.w AS neg_word, c.f AS neg_freq,
        |  (c.w = center) AS is_self
        |FROM probes p JOIN cumt c
        |  ON p.t >= c.cum_hi - c.wi AND p.t < c.cum_hi
        |ORDER BY center, j""".stripMargin,

    // same (source, word) counts, same count-of-counts roll-up
    "q_good_turing" ->
      """WITH freq AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0 GROUP BY source, w),
        |gt AS (
        |  SELECT source,
        |    CAST(SUM(f) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax,
        |    CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dis
        |  FROM freq GROUP BY source)
        |SELECT source, n_tokens, n_types, n_hapax, n_dis,
        |  round(CAST(n_hapax AS DOUBLE) / n_tokens, 9) AS p_unseen,
        |  CASE WHEN n_hapax > 0
        |    THEN round(2.0 * n_dis / n_hapax, 9) END AS r_star_1,
        |  round(1.0 - CAST(n_hapax AS DOUBLE) / n_tokens, 9) AS coverage
        |FROM gt ORDER BY source""".stripMargin,

    // distinct vocab per source, word-keyed pair join, IE union
    "q_source_overlap" ->
      """WITH vocab AS (
        |  SELECT DISTINCT source, w FROM (
        |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0),
        |sizes AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS v
        |  FROM vocab GROUP BY source),
        |inter AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |    CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM vocab a JOIN vocab b
        |    ON a.w = b.w AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT s1, s2, va.v AS v1, vb.v AS v2, n_common,
        |  round(CAST(n_common AS DOUBLE) /
        |    CAST(va.v + vb.v - n_common AS DOUBLE), 9) AS jaccard
        |FROM inter
        |JOIN sizes va ON va.source = s1
        |JOIN sizes vb ON vb.source = s2
        |ORDER BY s1, s2""".stripMargin,

    // same slot/sign hashes over the same whitespace tokens
    "q_feature_hash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(w), 1, 4)) AS BIGINT) % 64 AS slot,
        |    (CAST(('0x' || substr(md5(w), 5, 1)) AS BIGINT) % 2) * 2 - 1
        |      AS sgn
        |  FROM toks WHERE length(w) > 0)
        |SELECT doc_id, slot, CAST(SUM(sgn) AS BIGINT) AS val
        |FROM hashed GROUP BY doc_id, slot
        |HAVING SUM(sgn) <> 0
        |ORDER BY doc_id, slot""".stripMargin,

    "q_word_freq" ->
      """SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) t
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 100""".stripMargin,

    // same keepToken boundary predicate, same rounded-DECIMAL word
    // scores, same (score DESC, phrase) total order. 1-based toks[i]
    // vs Spark's 0-based posexplode shifts island VALUES by a constant
    // per doc — grouping structure (never emitted) is identical.
    "q_rake_keywords" ->
      s"""WITH tok AS (
         |  SELECT doc_id, i AS pos, toks[i] AS word
         |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
         |        FROM documents) t,
         |       UNNEST(range(1, len(toks) + 1)) AS u(i)
         |  WHERE length(toks[i]) > 0),
         |content AS (
         |  SELECT doc_id, pos, word,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS island
         |  FROM tok
         |  WHERE length(word) > 1 AND NOT starts_with(word, 'http')
         |    AND word NOT IN ${sqlList(stopwords)}),
         |phr AS (
         |  SELECT doc_id, island, CAST(COUNT(*) AS BIGINT) AS len,
         |    string_agg(word, ' ' ORDER BY pos) AS phrase
         |  FROM content GROUP BY doc_id, island),
         |ws AS (
         |  SELECT word,
         |    CAST(round(CAST(SUM(len) AS DOUBLE) / COUNT(*), 12)
         |         AS DECIMAL(22,12)) AS wscore
         |  FROM content JOIN phr USING (doc_id, island)
         |  GROUP BY word),
         |scored AS (
         |  SELECT doc_id, island, phrase, SUM(wscore) AS pscore
         |  FROM content JOIN phr USING (doc_id, island) JOIN ws USING (word)
         |  GROUP BY doc_id, island, phrase)
         |SELECT phrase, round(CAST(MAX(pscore) AS DOUBLE), 9) AS score,
         |  CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM scored GROUP BY phrase
         |ORDER BY score DESC, phrase LIMIT 15""".stripMargin,

    // the JSD decomposition restated term-for-term: same p/q doubles,
    // same 2p/(p+q) parenthesization, round-at-12 DECIMAL partial
    // sums, and the same closed-form absent-mass term 0.5·ln2·(1−Σq)
    "q_js_divergence" ->
      """WITH g AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |cw AS (SELECT w, COUNT(*) AS cq FROM g GROUP BY w),
        |qt AS (SELECT SUM(cq) AS qtot FROM cw),
        |csw AS (SELECT source, w, COUNT(*) AS cp FROM g GROUP BY source, w),
        |st AS (SELECT source, SUM(cp) AS ptot FROM csw GROUP BY source),
        |terms AS (
        |  SELECT source,
        |    CAST(round(0.5 * (
        |        (CAST(cp AS DOUBLE) / CAST(ptot AS DOUBLE)) *
        |          ln(2.0 * (CAST(cp AS DOUBLE) / CAST(ptot AS DOUBLE)) /
        |             ((CAST(cp AS DOUBLE) / CAST(ptot AS DOUBLE)) +
        |              (CAST(cq AS DOUBLE) / CAST(qtot AS DOUBLE)))) +
        |        (CAST(cq AS DOUBLE) / CAST(qtot AS DOUBLE)) *
        |          ln(2.0 * (CAST(cq AS DOUBLE) / CAST(qtot AS DOUBLE)) /
        |             ((CAST(cp AS DOUBLE) / CAST(ptot AS DOUBLE)) +
        |              (CAST(cq AS DOUBLE) / CAST(qtot AS DOUBLE))))
        |      ), 12) AS DECIMAL(16,12)) AS c12,
        |    CAST(round(CAST(cq AS DOUBLE) / CAST(qtot AS DOUBLE), 12)
        |      AS DECIMAL(16,12)) AS q12
        |  FROM csw JOIN cw USING (w) JOIN st USING (source), qt)
        |SELECT source,
        |  round(CAST(SUM(c12) AS DOUBLE) +
        |        0.5 * ln(2) * (1.0 - CAST(SUM(q12) AS DOUBLE)), 6) AS jsd,
        |  COUNT(*) AS n_terms
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    "q_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same three regexp counts, same single double expression, same
    // threshold CASE on the round-9 score
    "q_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
        |      AS n_words,
        |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
        |      1) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    round(206.835 -
        |      1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
        |      84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 9)
        |  END AS flesch,
        |  CASE WHEN n_words = 0 THEN 'empty'
        |       WHEN round(206.835 -
        |         1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
        |         84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 9)
        |         >= 60.0 THEN 'easy'
        |       WHEN round(206.835 -
        |         1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
        |         84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 9)
        |         >= 30.0 THEN 'medium'
        |       ELSE 'hard' END AS band
        |FROM c ORDER BY doc_id""".stripMargin,

    // same stopword-density score, same total-order rank, the cutoff
    // restated as the identical integer comparison
    "q_percentile_prune" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    round(CAST(len(list_filter(toks, t -> t IN ${sqlList(stopwords)}))
         |      AS DOUBLE) / len(toks), 9) AS score
         |  FROM (SELECT source, doc_id, string_split(lower(text), ' ') AS toks
         |        FROM documents) x),
         |r AS (
         |  SELECT source, doc_id, score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
         |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_source
         |  FROM t)
         |SELECT source, doc_id, score, rk, n_source,
         |  rk * 10 <= n_source * 7 AS kept
         |FROM r ORDER BY source, doc_id""".stripMargin,

    "q_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(toks, t -> t IN ${sqlList(stopwords)})) AS DOUBLE)
         |    / len(toks) AS stop_ratio,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_token_len,
         |  (CASE WHEN len(toks) BETWEEN 5 AND 2000 THEN CAST(1.0 AS DOUBLE)
         |        ELSE CAST(0.5 AS DOUBLE) END)
         |    * (CAST(1.0 AS DOUBLE) - CAST(len(list_filter(toks, t -> t IN ${sqlList(stopwords)})) AS DOUBLE)
         |             / len(toks)) AS quality
         |FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks
         |      FROM documents) d
         |ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      s"""SELECT doc_id, lang AS labeled_lang, s_en, s_es, s_fr, s_de,
         |  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
         |       WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred_lang
         |FROM (SELECT doc_id, lang,
         |  CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("en"))})) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("es"))})) AS BIGINT) AS s_es,
         |  CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("fr"))})) AS BIGINT) AS s_fr,
         |  CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("de"))})) AS BIGINT) AS s_de
         |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
         |        FROM documents) x) y
         |ORDER BY doc_id""".stripMargin,

    // same marker scoring + argmax restated, rolled to the confusion
    // grid; F1 as the single-division 2·tp/(n_true + n_pred)
    "q_langid_eval" ->
      s"""WITH y AS (
         |  SELECT lang AS t,
         |    CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
         |         WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
         |         WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS p
         |  FROM (SELECT lang,
         |    CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("en"))})) AS BIGINT) AS s_en,
         |    CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("es"))})) AS BIGINT) AS s_es,
         |    CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("fr"))})) AS BIGINT) AS s_fr,
         |    CAST(len(list_filter(toks, t -> t IN ${sqlList(langMarkers("de"))})) AS BIGINT) AS s_de
         |    FROM (SELECT lang, string_split(lower(text), ' ') AS toks
         |          FROM documents) x) z),
         |grid AS (SELECT t, p, CAST(COUNT(*) AS BIGINT) AS n
         |         FROM y GROUP BY t, p),
         |bt AS (SELECT t AS lang, CAST(SUM(n) AS BIGINT) AS n_true,
         |         CAST(SUM(CASE WHEN p = t THEN n ELSE 0 END) AS BIGINT) AS tp
         |       FROM grid GROUP BY t),
         |bp AS (SELECT p AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
         |       FROM grid GROUP BY p),
         |j AS (
         |  SELECT COALESCE(bt.lang, bp.lang) AS lang,
         |    COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred,
         |    COALESCE(tp, 0) AS tp
         |  FROM bt FULL OUTER JOIN bp ON bt.lang = bp.lang)
         |SELECT lang, n_true, n_pred, tp,
         |  CASE WHEN n_pred > 0
         |       THEN round(CAST(tp AS DOUBLE) / n_pred, 9) END AS precision,
         |  CASE WHEN n_true > 0
         |       THEN round(CAST(tp AS DOUBLE) / n_true, 9) END AS recall,
         |  CASE WHEN n_true + n_pred > 0
         |       THEN round(CAST(2 AS DOUBLE) * tp / (n_true + n_pred), 9)
         |  END AS f1
         |FROM j ORDER BY lang""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, md5(text) AS doc_hash,
        |  list_min(list_transform(
        |    list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
        |                   i -> array_to_string(toks[i:i+4], ' ')),
        |    sh -> md5(sh))) AS min_shingle_hash,
        |  CAST(greatest(len(toks) - 4, 1) AS BIGINT) AS n_shingles
        |FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks
        |      FROM documents) d
        |ORDER BY doc_id""".stripMargin,

    "q_lm_score" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[CAST(i AS INTEGER)] || ' ' ||
        |         toks[CAST(i + 1 AS INTEGER)])) AS gram
        |  FROM docs),
        |m AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
        |t AS (SELECT SUM(c) AS n_total FROM m),
        |sc AS (
        |  SELECT gram,
        |    CAST(round(ln(CAST(c AS DOUBLE) / n_total), 9)
        |         AS DECIMAL(15,9)) AS logp
        |  FROM m, t)
        |SELECT doc_id,
        |  round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6) AS mean_logp,
        |  COUNT(*) AS n_bigrams
        |FROM g JOIN sc USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dsir_sample" ->
      """WITH g AS (
        |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |raw AS (SELECT w, COUNT(*) AS cr FROM g GROUP BY w),
        |tgt AS (SELECT w, COUNT(*) AS ct FROM g WHERE lang = 'en' GROUP BY w),
        |tot AS (
        |  SELECT SUM(cr) AS rtot, SUM(COALESCE(ct, 0)) AS ttot,
        |         COUNT(*) AS v
        |  FROM raw LEFT JOIN tgt USING (w)),
        |wt AS (
        |  SELECT w,
        |    CAST(round(ln(
        |      (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * CAST(rtot + v AS DOUBLE)) /
        |      (CAST(ttot + v AS DOUBLE) * CAST(cr + 1 AS DOUBLE))), 9)
        |      AS DECIMAL(15,9)) AS lw
        |  FROM raw LEFT JOIN tgt USING (w), tot)
        |SELECT doc_id,
        |  round(CAST(SUM(lw) AS DOUBLE) / COUNT(*), 6) AS dsir_score,
        |  COUNT(*) AS n_tokens
        |FROM g JOIN wt USING (w)
        |GROUP BY doc_id
        |ORDER BY dsir_score DESC, doc_id LIMIT 50""".stripMargin,

    "q_fuzzy_token_pairs" ->
      """WITH base AS (
        |  SELECT DISTINCT w FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE len(w) BETWEEN 4 AND 20 AND regexp_matches(w, '^[a-z]+$')),
        |vocab AS (
        |  SELECT DISTINCT w FROM (
        |    SELECT w FROM base
        |    UNION ALL
        |    SELECT substr(w, 2, 100) AS w FROM base WHERE len(w) >= 5)),
        |variants AS (
        |  SELECT w, unnest(list_distinct(list_concat([w],
        |    list_transform(range(1, len(w) + 1),
        |      i -> substr(w, 1, CAST(i - 1 AS INTEGER)) ||
        |           substr(w, CAST(i + 1 AS INTEGER), 100))))) AS v
        |  FROM vocab)
        |SELECT DISTINCT a.w AS w1, b.w AS w2
        |FROM variants a JOIN variants b ON a.v = b.v AND a.w < b.w
        |WHERE levenshtein(a.w, b.w) = 1
        |ORDER BY w1, w2""".stripMargin,

    "q_chunk_documents" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t, unnest(range(1, len(t) + 1, 48)) AS st FROM d)
        |SELECT doc_id,
        |  CAST((st - 1) // 48 AS BIGINT) AS chunk_no,
        |  CAST(st AS BIGINT) AS chunk_start,
        |  CAST(len(t[st:st+63]) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(t[st:st+63], ' ')) AS chunk_hash
        |FROM s ORDER BY doc_id, chunk_no""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM t)
        |SELECT source, CAST(FLOOR(bef / 2000) AS BIGINT) AS pack_no,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
        |FROM p GROUP BY source, pack_no
        |ORDER BY source, pack_no""".stripMargin,

    "q_scrub_pii" ->
      """WITH withpii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com or +1-555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
        |                   '<EMAIL>', 'g'),
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones
        |FROM withpii ORDER BY doc_id""".stripMargin,

    "q_quality_gate" ->
      s"""WITH ${qualityReasonsSqlDuckFrom("documents")}
         |SELECT doc_id, n_tokens, n_stop, pred_lang, distinct_ratio,
         |  top_bigram_frac, reason IS NULL AS keep, reason
         |FROM qreason ORDER BY doc_id""".stripMargin,

    // restated from the SHARED bm25ScoredSqlDuck generator — scorer,
    // eval, and both oracles are one kernel definition
    "q_bm25" ->
      s"""WITH ${bm25ScoredSqlDuck(Seq("dup", "vector", "query"))}
         |SELECT * FROM bmfinal
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // the merged stats equal the whole-corpus stats (corpus = index ∪
    // batch), so the oracle is the q_bm25 kernel CTE filtered to the
    // batch — structural equality, not a tolerance
    "q_bm25_incremental" ->
      s"""WITH ${bm25ScoredSqlDuck(Seq("dup", "vector", "query"))}
         |SELECT * FROM bmfinal WHERE doc_id % 7 = 3
         |ORDER BY doc_id""".stripMargin,

    "q_retrieval_eval" -> {
      val qs = Seq((0, Seq("dup", "vector")), (1, Seq("join", "window")),
        (2, Seq("dup", "query")))
      val ctes = qs.map { case (i, ts) => bm25ScoredSqlDuck(ts, i.toString) }
      val ranked = qs.map { case (i, ts) =>
        s"""r$i AS (
           |  SELECT doc_id, score,
           |    (${ts.map(t => s"tf_$t > 0").mkString(" AND ")}) AS rel,
           |    row_number() OVER (ORDER BY score DESC, doc_id) AS rk
           |  FROM bmfinal$i)""".stripMargin }
      val metrics = qs.map { case (i, ts) =>
        s"""m$i AS (
           |  SELECT CAST($i AS BIGINT) AS qid, '${ts.mkString(" ")}' AS terms,
           |    CAST(COUNT(CASE WHEN rel THEN 1 END) AS BIGINT) AS n_rel,
           |    CAST(MIN(CASE WHEN rel THEN rk END) AS BIGINT) AS first_rel_rank,
           |    CAST(COUNT(CASE WHEN rel AND rk <= 10 THEN 1 END) AS BIGINT) AS rel_at_10,
           |    CAST(COUNT(CASE WHEN rel AND rk <= 50 THEN 1 END) AS BIGINT) AS rel_at_50
           |  FROM r$i)""".stripMargin }
      s"""WITH ${(ctes ++ ranked ++ metrics).mkString(",\n")}
         |SELECT qid, terms, n_rel, first_rel_rank, rel_at_10, rel_at_50,
         |  round(rel_at_10 / CAST(10 AS DOUBLE), 9) AS precision_at_10,
         |  round(rel_at_50 / CAST(nullif(n_rel, 0) AS DOUBLE), 9) AS recall_at_50
         |FROM (SELECT * FROM m0 UNION ALL SELECT * FROM m1 UNION ALL SELECT * FROM m2)
         |ORDER BY qid""".stripMargin
    },

    "q_ndcg" -> {
      val qs = Seq((0, Seq("dup", "vector")), (1, Seq("join", "window")),
        (2, Seq("dup", "query")))
      val discRows = ndcgDiscounts.zipWithIndex
        .map { case (v, i) => s"(${i + 1}, CAST($v AS DOUBLE))" }
        .mkString(", ")
      val ctes = qs.map { case (i, ts) => bm25ScoredSqlDuck(ts, i.toString) }
      val graded = qs.map { case (i, ts) =>
        s"""g$i AS (
           |  SELECT doc_id, score,
           |    ${ts.map(t => s"CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END")
                  .mkString(" + ")} AS gain
           |  FROM bmfinal$i),
           |t$i AS (
           |  SELECT gain, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
           |  FROM g$i),
           |c$i AS (
           |  SELECT COUNT(CASE WHEN gain = 2 THEN 1 END) AS cnt2,
           |         COUNT(CASE WHEN gain = 1 THEN 1 END) AS cnt1
           |  FROM g$i),
           |d$i AS (
           |  SELECT COALESCE(SUM(CAST(round(CAST(gain AS DOUBLE) * disc, 9)
           |           AS DECIMAL(15,9))), CAST(0 AS DECIMAL(15,9))) AS dcg_dec
           |  FROM t$i JOIN disc ON t$i.rk = disc.rk
           |  WHERE t$i.rk <= 10)""".stripMargin }
      val idcgSql = ndcgDiscounts.zipWithIndex.map { case (v, i) =>
        s"""CAST(round(CASE WHEN cnt2 >= ${i + 1} THEN CAST(2 AS DOUBLE)
           |  WHEN cnt2 + cnt1 >= ${i + 1} THEN CAST(1 AS DOUBLE)
           |  ELSE CAST(0 AS DOUBLE) END * CAST($v AS DOUBLE), 9)
           |  AS DECIMAL(15,9))""".stripMargin
      }.mkString(" +\n    ")
      val metrics = qs.map { case (i, ts) =>
        s"""m$i AS (
           |  SELECT CAST($i AS BIGINT) AS qid, '${ts.mkString(" ")}' AS terms,
           |    CAST(cnt2 AS BIGINT) AS cnt2, CAST(cnt1 AS BIGINT) AS cnt1,
           |    CAST(dcg_dec AS DOUBLE) AS dcg_10,
           |    CAST($idcgSql AS DOUBLE) AS idcg_10
           |  FROM c$i, d$i)""".stripMargin }
      s"""WITH disc(rk, disc) AS (VALUES $discRows),
         |${(ctes ++ graded ++ metrics).mkString(",\n")}
         |SELECT qid, terms, cnt2, cnt1, dcg_10, idcg_10,
         |  round(dcg_10 / nullif(idcg_10, CAST(0 AS DOUBLE)), 9) AS ndcg_10
         |FROM (SELECT * FROM m0 UNION ALL SELECT * FROM m1 UNION ALL SELECT * FROM m2)
         |ORDER BY qid""".stripMargin
    },

    // the 3 rounds unrolled; each b_k is the 1-row argmax the Spark
    // driver collects, applied via the same sentinel-guarded replace.
    "q_bpe_merges" -> {
      val arms = (1 to bpeRounds).map { r =>
        s"""  SELECT CAST($r AS BIGINT) AS round, pair,
           |         replace(pair, ' ', '') AS merged, CAST(c AS BIGINT) AS cnt FROM b$r""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH $bpeLearnSqlDuck
        |SELECT * FROM (
        |$arms) m
        |ORDER BY round""".stripMargin
    },

    // learn prefix shared with q_bpe_merges; the encode applies the
    // learned merge scalars (cross-joined as columns so the lambda
    // can see them) to every word of every document.
    "q_tokenize_bpe" ->
      s"""WITH $bpeLearnSqlDuck,
        |$bpeMmDuck,
        |docs AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), w -> length(w) > 0)
        |      AS toks
        |  FROM documents),
        |enc AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_ws_tokens,
        |    CAST(COALESCE(list_sum(list_transform(toks, w ->
        |      len(string_split(trim(${bpeReplDuck(
               "'|' || array_to_string(regexp_extract_all(w, '.'), '|') || '|'")},
        |        '|'), '|')))), 0)
        |      AS BIGINT) AS n_bpe_tokens
        |  FROM docs, mm)
        |SELECT doc_id, n_ws_tokens, n_bpe_tokens,
        |  CASE WHEN n_ws_tokens > 0
        |    THEN round(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 9)
        |  END AS bpe_per_word
        |FROM enc ORDER BY doc_id""".stripMargin,

    // the same learn prefix + encode lambda, grouped by source; the
    // two ratios restated with the same nullif guards
    "q_tokenizer_fertility" ->
      s"""WITH $bpeLearnSqlDuck,
        |$bpeMmDuck,
        |docs AS (
        |  SELECT source, text,
        |    list_filter(string_split(lower(text), ' '), w -> length(w) > 0)
        |      AS toks
        |  FROM documents),
        |enc AS (
        |  SELECT source, CAST(len(toks) AS BIGINT) AS ws,
        |    CAST(COALESCE(list_sum(list_transform(toks, w ->
        |      len(string_split(trim(${bpeReplDuck(
               "'|' || array_to_string(regexp_extract_all(w, '.'), '|') || '|'")},
        |        '|'), '|')))), 0)
        |      AS BIGINT) AS bpe,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS ch
        |  FROM docs, mm),
        |g AS (
        |  SELECT source, CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
        |    CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
        |    CAST(SUM(ch) AS BIGINT) AS n_chars
        |  FROM enc GROUP BY source)
        |SELECT source, n_ws_tokens, n_bpe_tokens, n_chars,
        |  round(CAST(n_bpe_tokens AS DOUBLE) /
        |    CAST(nullif(n_ws_tokens, 0) AS DOUBLE), 9) AS fertility,
        |  round(CAST(n_chars AS DOUBLE) /
        |    CAST(nullif(n_bpe_tokens, 0) AS DOUBLE), 9) AS chars_per_token
        |FROM g ORDER BY source""".stripMargin,

    // both training prefixes in one WITH RECURSIVE (the unigram chain
    // + the BPE unroll share no CTE names), per-word counts from each
    // family's own machinery (bt backtrack / merge-replace lambda)
    // over the distinct-word frame, one source-grain join-back
    "q_tokenizer_compare" -> {
      val n = uniKeepSchedule.length
      s"""WITH RECURSIVE $uniTrainDuck,
         |${uniRoundDuck(s"${n + 1}", s"uprobs$n")},
         |wpu AS (SELECT b.w, CAST(COUNT(b.piece) AS BIGINT) AS ku
         |        FROM bt${n + 1} b WHERE b.piece IS NOT NULL GROUP BY b.w),
         |$bpeLearnSqlDuck,
         |$bpeMmDuck,
         |docw AS (SELECT source, w FROM (
         |    SELECT source, unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents) t WHERE length(w) > 0),
         |wpb AS (SELECT w, CAST(len(string_split(trim(${bpeReplDuck(
                "'|' || array_to_string(regexp_extract_all(w, '.'), '|') || '|'")},
         |      '|'), '|'))
         |    AS BIGINT) AS kb
         |  FROM (SELECT DISTINCT w FROM docw) x, mm),
         |g AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
         |    CAST(SUM(wpb.kb) AS BIGINT) AS n_bpe_tokens,
         |    CAST(SUM(wpu.ku) AS BIGINT) AS n_uni_pieces
         |  FROM docw d JOIN wpb ON wpb.w = d.w JOIN wpu ON wpu.w = d.w
         |  GROUP BY d.source)
         |SELECT source, n_ws_tokens, n_bpe_tokens, n_uni_pieces,
         |  round(CAST(n_bpe_tokens AS DOUBLE) /
         |    CAST(nullif(n_ws_tokens, 0) AS DOUBLE), 9) AS bpe_fertility,
         |  round(CAST(n_uni_pieces AS DOUBLE) /
         |    CAST(nullif(n_ws_tokens, 0) AS DOUBLE), 9) AS uni_fertility,
         |  CASE WHEN n_uni_pieces < n_bpe_tokens THEN 'unigram'
         |       WHEN n_bpe_tokens < n_uni_pieces THEN 'bpe'
         |       ELSE 'tie' END AS winner
         |FROM g ORDER BY source""".stripMargin
    },

    // the curve restated: one distinct-word table, per-depth encode
    // columns from the same mm scalars (prefix chains), 1-row sums
    // unpivoted — fertility per merge-table prefix 0..R
    "q_bpe_vocab_curve" -> {
      val depths = 0 to bpeRounds
      val inner =
        "'|' || array_to_string(regexp_extract_all(w, '.'), '|') || '|'"
      val encCols = depths.map { k =>
        s"""    CAST(len(string_split(trim(${bpeReplDuck(inner, k)},
           |      '|'), '|')) AS BIGINT) * cw AS k$k""".stripMargin
      }.mkString(",\n")
      val sumCols = depths.map(k =>
        s"CAST(SUM(k$k) AS BIGINT) AS s$k").mkString(", ")
      val arms = depths.map { k =>
        s"""  SELECT CAST($k AS BIGINT) AS n_merges, s$k AS n_bpe_tokens,
           |    round(CAST(s$k AS DOUBLE) /
           |      CAST(nullif(ws, 0) AS DOUBLE), 9) AS fertility FROM tot""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH $bpeLearnSqlDuck,
         |$bpeMmDuck,
         |dw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents) t WHERE length(w) > 0 GROUP BY w),
         |enc AS (SELECT cw,
         |$encCols
         |  FROM dw, mm),
         |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS ws, $sumCols FROM enc)
         |SELECT * FROM (
         |$arms) c
         |ORDER BY n_merges""".stripMargin
    },

    "q_pmi_bigrams" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |uni AS (
        |  SELECT w, COUNT(*) AS cw FROM (
        |    SELECT unnest(toks) AS w FROM docs) t GROUP BY w),
        |nt AS (SELECT CAST(SUM(cw) AS DOUBLE) AS n_tokens FROM uni),
        |big AS (
        |  SELECT gram, COUNT(*) AS c_ab FROM (
        |    SELECT unnest(list_transform(range(1, len(toks)),
        |      i -> toks[CAST(i AS INTEGER)] || ' ' ||
        |           toks[CAST(i + 1 AS INTEGER)])) AS gram
        |    FROM docs WHERE len(toks) >= 2) t GROUP BY gram),
        |nb AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_bigrams FROM big)
        |SELECT gram, c_ab,
        |  round(ln((CAST(c_ab AS DOUBLE) / n_bigrams) /
        |    ((CAST(ca.cw AS DOUBLE) / n_tokens) *
        |     (CAST(cb.cw AS DOUBLE) / n_tokens))), 9) AS pmi
        |FROM big
        |JOIN uni ca ON ca.w = string_split(gram, ' ')[1]
        |JOIN uni cb ON cb.w = string_split(gram, ' ')[2]
        |CROSS JOIN nt CROSS JOIN nb
        |WHERE c_ab >= 5
        |ORDER BY pmi DESC, gram LIMIT 20""".stripMargin,

    "q_quality_repetition" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 2),
        |base AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 9)
        |      AS distinct_ratio,
        |    toks
        |  FROM docs),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[CAST(i AS INTEGER)] || ' ' ||
        |           toks[CAST(i + 1 AS INTEGER)])) AS gram
        |  FROM docs),
        |gc AS (
        |  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram),
        |topfrac AS (
        |  SELECT doc_id,
        |    round(CAST(MAX(c) AS DOUBLE) / SUM(c), 9) AS top_bigram_frac
        |  FROM gc GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, b.distinct_ratio, t.top_bigram_frac,
        |  (b.distinct_ratio >= 0.3 AND t.top_bigram_frac <= 0.18) AS keep
        |FROM base b JOIN topfrac t ON b.doc_id = t.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // Direct per-position restatement of the winnow (the oracle pays
    // O(n·K); congruent modular arithmetic makes the values identical).
    // NOTE the oracle hashes code points (ascii/substr) while the kernel
    // hashes UTF-8 bytes — identical ONLY on ASCII text, which TESTDATA
    // guarantees (verified octet_length == length for every doc); a
    // non-ASCII corpus needs a byte-level oracle.
    "q_fingerprint_winnow" ->
      s"""WITH ${winnowDuck("documents")}
        |SELECT DISTINCT doc_id, fp FROM wins WHERE i <= nh - 3
        |ORDER BY doc_id, fp""".stripMargin,

    "q_stopword_filter" ->
      s"""SELECT doc_id,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  kept[1] AS first_kept
         |FROM (SELECT doc_id,
         |        list_filter(string_split(lower(text), ' '),
         |                    t -> $keepTokenSqlDuck) AS kept
         |      FROM documents) d
         |ORDER BY doc_id""".stripMargin,

    "q_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
         |                                    t -> $keepTokenSqlDuck)) AS term
         |  FROM documents),
         |counts AS (SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
         |totals AS (SELECT doc_id, COUNT(*) AS doc_total FROM tok GROUP BY 1),
         |dft AS (SELECT term, COUNT(*) AS df FROM counts GROUP BY 1),
         |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM counts)
         |SELECT doc_id, rk, term, tfidf FROM (
         |  SELECT c.doc_id, c.term,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY c.doc_id
         |      ORDER BY round((CAST(c.cnt AS DOUBLE) / t.doc_total) *
         |        (ln((CAST(n.n_docs AS DOUBLE) + 1) / (CAST(f.df AS DOUBLE) + 1)) + 1), 9) DESC,
         |        c.term) AS BIGINT) AS rk,
         |    round((CAST(c.cnt AS DOUBLE) / t.doc_total) *
         |      (ln((CAST(n.n_docs AS DOUBLE) + 1) / (CAST(f.df AS DOUBLE) + 1)) + 1), 9) AS tfidf
         |  FROM counts c
         |  JOIN totals t ON c.doc_id = t.doc_id
         |  JOIN dft f ON c.term = f.term
         |  CROSS JOIN nd n) x
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q_sentence_split" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text || '.', '[^.!?]+[.!?]+')) AS BIGINT) AS n_sentences
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_tf_topk" ->
      s"""SELECT doc_id, rk, name, confidence FROM (
         |  SELECT doc_id, term AS name,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, term) AS BIGINT) AS rk,
         |    CAST(100 AS DOUBLE) * cnt / SUM(cnt) OVER (PARTITION BY doc_id) AS confidence
         |  FROM (
         |    SELECT doc_id, term, COUNT(*) AS cnt FROM (
         |      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
         |                                        t -> $keepTokenSqlDuck)) AS term
         |      FROM documents) x
         |    GROUP BY doc_id, term) c) r
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin
  )
}
