package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Iterate.CutOps

/** Deduplication operator family over `documents` — the training-data-
  * pipeline generalization of the reference's key-existence dedup (J1/F5).
  *
  *   - exact dedup: hash-groupBy on content
  *   - MinHash + LSH banding: shingle → 16 minhashes → 4 bands →
  *     bucket self-join → exact-Jaccard verification of candidates
  *   - SimHash: 32-bit majority fingerprint
  *   - n-gram Jaccard: exhaustive within-block pair scoring (the
  *     non-LSH baseline the banding variant is measured against)
  *
  * The raw documents table has no duplicates, so each query builds a
  * `corpus` = documents ∪ exact copies (doc_id+100000, every 10th doc)
  * ∪ first-word-dropped near copies (doc_id+200000) — derived
  * deterministically from the input on both the Spark and oracle side.
  *
  * Scale design: MinHash/SimHash signatures are computed in a single
  * projection pass (no shuffle); the only shuffles are the band-bucket
  * self-join (shuffle on band key — at 100 TB this is the standard
  * LSH-join layout: keys are uniformly-distributed hashes, so no skew)
  * and the final pair dedup. Candidate verification touches only pairs
  * that share a band, never the cross product.
  */
object Dedup extends graft.QueryPack {

  private val NUM_HASHES = 16
  private val BANDS = 4
  private val ROWS_PER_BAND = NUM_HASHES / BANDS

  /** Hot-shingle document-frequency cap for the inverted-index kernels
    * (ngramPairs, q_decontaminate). A shingle occurring in df documents
    * contributes df² candidate-pair rows, so one ultra-common trigram
    * ("terms of service") makes the bucket quadratic at scale; real
    * pipelines drop such shingles before pairing — they carry no
    * discriminating signal anyway. Cap = 1000 bounds any single
    * shingle's pair fan-out at 10⁶ rows (one shuffle partition's worth)
    * regardless of corpus size, and is far above the testdata maxima
    * (measured max df: 10 at sf0.1 within-source for the pairs kernel,
    * 25 corpus-wide for decontamination), so on the oracle-checked data
    * the cap never fires and results equal the exact definition. The
    * cap is part of the OPERATOR definition, not a silent heuristic:
    * the DuckDB oracles below restate the same inverted-index-with-cap
    * computation, so greenness is structural at any df distribution.
    *
    * Both the Spark plans and the generated DuckDB oracle SQL build
    * from this one constant, so they agree by construction — and
    * DedupSpec passes the ngram kernel a `cap` low enough to actually
    * FIRE on the testdata, proving the capped path itself (not just
    * the cap-idle path) keeps both engines in agreement. */
  private val SHINGLE_DF_CAP = 1000

  /** Word-trigram shingles (distinct, first-seen order) — semantics of
    * `array_distinct(transform(sequence(1, greatest(n-2,1)), i ->
    * concat_ws(' ', slice(toks, i, 3))))`, but as a tight JVM loop: the
    * interpreted HOF chain plus O(n²) array_distinct dominated dedup
    * runtime at sf0.1 (~0.5 ms/doc); this UDF is ~10× cheaper and keeps
    * the oracle definition unchanged. */
  /** Positional word-n-gram join strings over the lowercase
    * space-split tokens — the shared tight-loop core of [[shingleUdf]]
    * (distinct 3-grams) and [[spanHashUdf]] (md5'd 8-grams):
    * k = max(len−n+1, 1) windows, end-clamped exactly like `slice()`.
    * Locale.ROOT matches Spark's locale-independent lower(); any
    * change here must keep BOTH oracle definitions true (PropertySpec
    * pins each wrapper to its declarative form). */
  private def ngramStrings(text: String, n: Int): Array[String] = {
    val t = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
    val k = math.max(t.length - (n - 1), 1)
    val out = new Array[String](k)
    var i = 0
    while (i < k) {
      val end = math.min(i + n, t.length)
      val sb = new StringBuilder(t(i))
      var j = i + 1
      while (j < end) { sb.append(' ').append(t(j)); j += 1 }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  // Both wrappers NULL-propagate like the declarative expressions they
  // replace (transform over a NULL token array yields NULL, and explode
  // drops the row) — a nullable text column must skip, not NPE.
  val shingleUdf = udf((text: String) => {
    if (text == null) null
    else {
      val ls = new java.util.LinkedHashSet[String]
      ngramStrings(text, 3).foreach(ls.add)
      ls.toArray(new Array[String](ls.size)): Seq[String]
    }
  })

  private def shingles(text: Column): Column = shingleUdf(text)

  /** Positional word-8-gram span md5 hexes — semantics of
    * `transform(sequence(1, greatest(n-7,1)), i ->
    * md5(concat_ws(' ', slice(toks, i, 8))))` as a tight JVM loop
    * (HOF+md5 per element is interpreted per span; same ~10× trade as
    * [[shingleUdf]], oracle definition unchanged). Spans are
    * POSITIONAL (not distinct): within-doc repeats count per
    * occurrence, exactly like the declarative form. */
  val spanHashUdf = udf((text: String) => {
    if (text == null) null
    else spanHashesOf(text)
  })

  private def spanHashesOf(text: String): Seq[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = "0123456789abcdef".toCharArray
    ngramStrings(text, 8).map { span =>
      val d = md.digest(span.getBytes("UTF-8"))
      val cs = new Array[Char](32)
      var b = 0
      while (b < 16) {
        cs(2 * b) = hex((d(b) >> 4) & 0xf); cs(2 * b + 1) = hex(d(b) & 0xf)
        b += 1
      }
      md.reset()
      new String(cs)
    }.toSeq
  }

  /** corpus: documents ∪ exact dups ∪ near dups (see object doc). */
  // NOT spread here (r15, measured and REVERTED): a blanket spread of
  // this shared corpus won isolated TimeQuery A/Bs on the heavy
  // consumers but lost the full-leg suite comparison (+3.6 s across
  // the 20 consumers — the funnel/curve/prefix queries run many TINY
  // downstream stages that inherit the 32 partitions). The spread
  // belongs at the measured-heavy kernel (candPairsOf) only.
  private[operators] def corpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("text"))
    val exactCopies = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("source"), col("text"))
    val nearCopies = docs.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + 200000).as("doc_id"), col("source"),
        array_join(slice(split(lower(col("text")), " "), lit(2),
          greatest(size(split(col("text"), " ")) - 1, lit(0))), " ").as("text"))
    base.unionByName(exactCopies).unionByName(nearCopies)
  }

  /** The Manku pigeonhole candidate-pair frame (id_a, id_b, hamming)
    * at Hamming ≤ 3 over the planted corpus's 32-bit simhashes — the
    * kernel shared by q_simhash_hamming (the pair listing) and
    * q_hamming_curve (the radius sweep). The 32-bit fingerprint is
    * base-2-parsed ONCE per document row (conv on the corpus-sized
    * frame); everything downstream of the join — block key, xor,
    * popcount, first-block dedup — is pure integer bit arithmetic in
    * whole-stage codegen. A pair agreeing on several blocks surfaces
    * once per block; it is emitted only from its FIRST agreeing block
    * — a narrow integer predicate per candidate instead of a
    * candidate-sized distinct() shuffle. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val fp = corpus(Tables(s, d, "documents"))
      .select(col("doc_id"),
        graft.functions.SimHashExpression.simhash(col("text")).as("sh"))
      .withColumn("f", expr("cast(conv(sh, 2, 10) as bigint)"))
    simhashPairsFrom(fp)
  }

  /** The pigeonhole block join over a prepared (doc_id, f) fingerprint
    * frame — factored so SkewJoinSpec can drive the REAL join layout
    * with a planted boilerplate-heavy block key and pin the AQE skew
    * split the q_simhash_hamming comment asserts. */
  private[graft] def simhashPairsFrom(fp: DataFrame): DataFrame = {
    val blocked = fp
      .withColumn("blk", explode(sequence(lit(0), lit(3))))
      .withColumn("bits",
        expr("cast(shiftright(f, (3 - blk) * 8) & 255 as int)"))
    val l = blocked.select(col("blk"), col("bits"),
      col("doc_id").as("id_a"), col("f").as("f_a"))
    val r = blocked.select(col("blk"), col("bits"),
      col("doc_id").as("id_b"), col("f").as("f_b"))
    l.join(r, Seq("blk", "bits"))
      .filter(col("id_a") < col("id_b"))
      .filter(
        col("blk") === 0 ||
        (col("blk") === 1 && expr(
          "shiftright(f_a, 24) & 255 != shiftright(f_b, 24) & 255")) ||
        (col("blk") === 2 && expr(
          """shiftright(f_a, 24) & 255 != shiftright(f_b, 24) & 255 and
            |shiftright(f_a, 16) & 255 != shiftright(f_b, 16) & 255"""
            .stripMargin)) ||
        (col("blk") === 3 && expr(
          """shiftright(f_a, 24) & 255 != shiftright(f_b, 24) & 255 and
            |shiftright(f_a, 16) & 255 != shiftright(f_b, 16) & 255 and
            |shiftright(f_a, 8) & 255 != shiftright(f_b, 8) & 255"""
            .stripMargin)))
      .select(col("id_a"), col("id_b"),
        expr("cast(bit_count(f_a ^ f_b) as bigint)").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** DuckDB twin of [[simhashPairs]]' fingerprint blocks over the planted
    * corpus: fp(doc_id, sh) = the 32-char SimHash bitstring, and
    * blocked = its four 8-bit pigeonhole blocks (blk, bits). Opens its
    * oracle's WITH. */
  private lazy val simhashBlockedDuck: String =
    s"""WITH $corpusSqlDuck,
       |fp AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(range(1, 33), i ->
       |      CASE WHEN list_sum(list_transform(string_split(lower(text), ' '),
       |        w -> CASE WHEN strpos('0123456789abcdef', substring(md5(w), i, 1)) - 1 >= 8
       |                  THEN 1 ELSE -1 END)) >= 0
       |           THEN '1' ELSE '0' END), '') AS sh
       |  FROM corpus),
       |blocked AS (
       |  SELECT doc_id, sh, b AS blk, substring(sh, b * 8 + 1, 8) AS bits
       |  FROM fp, unnest(range(0, 4)) AS t(b))""".stripMargin

  /** Distinct (split, trigram) cells under the q_split_hash md5 rule —
    * the shared kernel of the batch q_ngram_coverage and the
    * q_stream_ngram_novelty fold (one definition, two paths). */
  /** The q_split_hash md5 bucket rule as a column — ONE definition for
    * gramSplits and the theta-novelty drain's doc-count conservation. */
  private[operators] def splitCol: Column = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("long")
    when(bucket < 58982, "train").when(bucket < 62259, "val")
      .otherwise("test")
  }

  private[operators] def gramSplits(docs: DataFrame): DataFrame =
    docs.select(splitCol.as("split"), explode(shingles(col("text"))).as("g"))
      .distinct()

  /** The novelty report off the distinct (split, g) frame — shared
    * tail of both novelty paths. */
  private[operators] def noveltyReport(grams: DataFrame): DataFrame = {
    val train = grams.filter(col("split") === "train")
      .select(col("g"), lit(1L).as("seen"))
    grams.filter(col("split") =!= "train")
      .join(train, Seq("g"), "left_outer")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_ngrams"), count(col("seen")).as("n_seen"))
      .select(col("split"), col("n_ngrams"), col("n_seen"),
        round(lit(1.0d) -
          col("n_seen").cast("double") / col("n_ngrams"), 9).as("novelty"))
      .orderBy(col("split"))
  }

  /** DuckDB twin of [[gramSplits]] + [[noveltyReport]]: per eval split
    * the distinct trigrams and how many the train split has seen,
    * closed by the select-list tail `measures`. */
  private[operators] def ngramCoverageDuck(measures: String): String =
    s"""WITH sp AS (
       |  SELECT text,
       |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
       |              AS INTEGER) < 58982 THEN 'train'
       |         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
       |              AS INTEGER) < 62259 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |grams AS (
       |  SELECT DISTINCT split,
       |    unnest(list_distinct(list_transform(
       |      range(1, greatest(len(string_split(lower(text),' ')) - 2, 1) + 1),
       |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))))
       |      AS g
       |  FROM sp),
       |train AS (SELECT g, 1 AS seen FROM grams WHERE split = 'train')
       |SELECT e.split, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       |  CAST(COUNT(train.seen) AS BIGINT) AS n_seen,
       |$measures
       |FROM grams e LEFT JOIN train ON train.g = e.g
       |WHERE e.split <> 'train'
       |GROUP BY e.split ORDER BY e.split""".stripMargin

  private[operators] val corpusSqlDuck: String =
    """corpus AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, source,
      |         array_to_string((string_split(lower(text), ' '))[2:], ' ')
      |  FROM documents WHERE doc_id % 10 = 1)""".stripMargin

  /** MinHash signatures via the standard two-hash trick: one md5 per
    * shingle → two 48-bit ints (x1, x2); hash family h_j = (x1 + j·x2)
    * mod P. One digest per shingle instead of NUM_HASHES digests, and the
    * signature loop is a tight JVM loop (a plain deterministic UDF —
    * measured ~10× faster than the interpreted higher-order-function
    * equivalent at sf0.1). The DuckDB oracle reproduces the identical
    * integers from md5 hex. */
  private val MOD = 1000000007L
  val minhashSigs = udf((sh: Seq[String]) => {
    // null in (from a null text through shingleUdf) → null out, like
    // every other kernel here — an NPE would fail the whole job
    if (sh == null) null else {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sigs = Array.fill(NUM_HASHES)(Long.MaxValue)
    sh.foreach { s =>
      val d = md.digest(s.getBytes("UTF-8"))
      // first 12 / next 12 hex chars = top 6 / next 6 bytes, as ints
      var a = 0L; var b = 0L; var i = 0
      while (i < 6) { a = (a << 8) | (d(i) & 0xffL); i += 1 }
      while (i < 12) { b = (b << 8) | (d(i) & 0xffL); i += 1 }
      var j = 0
      while (j < NUM_HASHES) {
        val h = (a + j * b) % MOD
        if (h < sigs(j)) sigs(j) = h
        j += 1
      }
    }
    if (sh.isEmpty) Array.fill(NUM_HASHES)(0L) else sigs
  }})

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Band-explode a (doc_id, sh, sigs) frame into (doc_id, sh, band,
    * bkey) — the LSH bucket key layout shared by q_dedup_minhash's
    * self-join and q_dedup_incremental's new-batch×index join. */
  private def bandedSigs(c: DataFrame): DataFrame =
    c.select(
      col("doc_id"), col("sh"),
      explode(transform(sequence(lit(0), lit(BANDS - 1)), b => struct(
        b.as("band"),
        md5(array_join(transform(
          slice(col("sigs"), b * ROWS_PER_BAND + 1, lit(ROWS_PER_BAND)),
          x => x.cast("string")), "|")).as("bkey")))).as("bb"))
      .select(col("doc_id"), col("sh"), col("bb.band"), col("bb.bkey"))

  /** The STORED index side of incremental dedup: content hashes and
    * banded minhash signatures of the already-indexed corpus
    * (doc_id % 7 ≠ 3) — the tables a 100 TB deployment maintains
    * across runs and the sandbox recomputes only because nothing
    * persists between queries (the documented posture). ONE
    * definition shared by the batch q_dedup_incremental and the
    * streaming q_stream_dedup_admission, which prepares these once
    * and admits every micro-batch against them. */
  private[operators] def dedupIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val index = corpus(Tables(s, d, "documents"))
      .filter(!(col("doc_id") % 7 === 3))
    val hashedIdx = index
      .select(md5(col("text")).as("h"), col("doc_id").as("pid"))
    val bandedIdx = bandedSigs(index
      .withColumn("sh", shingles(col("text")))
      .withColumn("sigs", minhashSigs(col("sh"))))
      .select(col("band"), col("bkey"), col("doc_id").as("iid"),
        col("sh").as("sh_b"))
    (hashedIdx, bandedIdx)
  }

  /** Admit a batch of (doc_id, text) rows against the stored dedup
    * index. Two probes in precedence order: exact content-hash
    * lookup, then the minhash band kernel as a batch×index equi-join
    * (never a corpus self-join); verdict per new doc: exact_dup
    * (partner = min same-hash indexed doc), near_dup (highest-jaccard
    * indexed candidate, ties to the smallest id via the struct-max
    * total-order key — no rank window), or unique (admit). Per-batch
    * work = the batch's own signatures + joins bounded by shared
    * buckets. UNORDERED — callers order or append. */
  private[operators] def dedupAdmit(batch: DataFrame,
      hashedIdx: DataFrame, bandedIdx: DataFrame): DataFrame = {
    val exact = batch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(hashedIdx, Seq("h"))
      .groupBy(col("doc_id")).agg(min(col("pid")).as("exact_partner"))
    val nearc = bandedSigs(batch
      .withColumn("sh", shingles(col("text")))
      .withColumn("sigs", minhashSigs(col("sh"))))
      .select(col("band"), col("bkey"), col("doc_id").as("nid"),
        col("sh").as("sh_a"))
      .join(bandedIdx, Seq("band", "bkey"))
      .select(col("nid"), col("iid"),
        round(jaccard(col("sh_a"), col("sh_b")), 9).as("j"))
      .distinct()
      .filter(col("j") >= 0.6)
    val best = nearc.groupBy(col("nid"))
      .agg(max(struct(col("j"), (-col("iid")).as("ni"))).as("b"))
      .select(col("nid").as("doc_id"), (-col("b.ni")).as("near_partner"),
        col("b.j").as("near_j"))
    batch.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left_outer")
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_partner").isNotNull, "exact_dup")
          .when(col("near_partner").isNotNull, "near_dup")
          .otherwise("unique").as("verdict"),
        coalesce(col("exact_partner"), col("near_partner")).as("partner_id"),
        when(col("exact_partner").isNull, col("near_j")).as("jaccard"))
  }

  /** Cluster formation shared by q_dedup_clusters and the spec's
    * chain-shaped stress graph: min-label propagation with a
    * diameter escape hatch to star contraction after `maxRounds`
    * un-converged rounds. `pairs` columns: (id_a, id_b). Returns
    * (doc_id, cluster_id), unordered. */
  private[graft] def clustersHybrid(pairs: DataFrame,
      maxRounds: Int = 10): DataFrame = {
      val edges = pairs.unionByName(
          pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .toDF("src", "dst")
        .persist()
      // round 0 folded into initialization: label = min(self, neighbors)
      // from one groupBy on the edge list (no join) — tiny star-shaped
      // near-dup clusters converge here, leaving the loop a single
      // fixpoint-confirming round. Persisted: the init probe
      // materializes it, and no pairs means no labels (the count-0 exit).
      val init = edges.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("node"), least(col("mn"), col("src")).as("label"))
        .persist()
      // labels only ever decrease (next = min(old, neighbors)), so the
      // fixpoint test is one cheap agg — sum unchanged ⟺ converged —
      // instead of a per-round change-detection join. Each round
      // references `labels` twice, so it must be cut: cache-only
      // iteration still grows the LOGICAL plan 2^r nodes (same fix as
      // ccStars).
      val (labels, rounds, converged) =
        Iterate.fixpoint(init, maxRounds)(sum(col("label"))) { cur =>
          val prop = edges.join(cur, edges("dst") === cur("node"))
            .select(edges("src").as("node"), col("label"))
          cur.unionByName(prop)
            .groupBy(col("node")).agg(min(col("label")).as("label"))
        }
      // after a round the labels are a cut frame, so the cached inputs
      // can go (cut frames themselves have no cache entry to drop)
      if (rounds > 0) init.unpersist(false)
      edges.unpersist(false)
      // Diameter escape hatch (r8): propagation advances one hop per
      // round, so its round count is the component RADIUS — 2-3 for
      // star-shaped near-dup clusters, unbounded for a chain-shaped
      // pair graph at 100 TB. If 10 rounds did not reach the fixpoint
      // the graph is chain-shaped: abandon propagation and finish with
      // star contraction, whose alternation count is O(log n)
      // INDEPENDENT of diameter. Identical output either way (both
      // compute component minima — one oracle restates both), so the
      // default named operator can no longer be diameter-killed while
      // the cheap radius≤10 fast path still serves the common shape.
      if (converged)
        labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      else
        ccStars(pairs.toDF("src", "dst")).toDF("doc_id", "cluster_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: content-hash groupBy, keep smallest id (deterministic
    // winner, unlike dropDuplicates whose survivor is partition-dependent).
    "q_dedup_exact" -> ((s, d) => {
      corpus(Tables(s, d, "documents"))
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy(col("keeper_id"))
    }),

    // MinHash + LSH banding with exact-Jaccard candidate verification.
    "q_dedup_minhash" -> ((s, d) => {
      val c = corpus(Tables(s, d, "documents"))
        .withColumn("sh", shingles(col("text")))
        .withColumn("sigs", minhashSigs(col("sh")))
      // Band-explode, then candidate pairs via a SELF EQUI-JOIN on the
      // (band, bucket-key) — the standard LSH-join layout. An earlier
      // formulation collect_list'ed every bucket's members and built
      // the m² pair structs inside ONE row: with a mass-duplicated
      // page (millions of copies share all 4 band keys by
      // construction) that materializes the whole bucket in one agg
      // buffer and one unsplittable output row — the same OOM pattern
      // the ngramPairsOf comment rejects. The join streams the same m²
      // candidates through a spillable shuffle instead. The signature
      // frame is persisted so the shingle+minhash kernels run ONCE and
      // both join sides read the (spillable, ~corpus-sized) cache —
      // comparable to the exchange the join materializes anyway; the
      // harness unpersists between queries.
      c.persist()
      val banded = bandedSigs(c)
      val l = banded.select(col("band"), col("bkey"),
        col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val r = banded.select(col("band"), col("bkey"),
        col("doc_id").as("id_b"), col("sh").as("sh_b"))
      l.join(r, Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(jaccard(col("sh_a"), col("sh_b")), 9).as("jaccard"))
        .distinct()
        .filter(col("jaccard") >= 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Incremental dedup — the operational 100 TB mode: an ARRIVING
    // BATCH (doc_id % 7 = 3 as the stable stand-in for today's crawl)
    // admits against the ALREADY-INDEXED corpus instead of re-mining
    // everything. Two probes, in precedence order: exact content-hash
    // lookup, then the same minhash band kernel as q_dedup_minhash —
    // but as a new×index equi-join, never a corpus self-join. At
    // 100 TB the index side (content hashes + band signatures) is a
    // stored table maintained by prior runs; per arriving batch the
    // work is the batch's own signatures plus joins bounded by shared
    // buckets — corpus-sized scans never re-run. Verdict per new doc:
    // exact_dup (partner = min same-hash indexed doc), near_dup
    // (partner = highest-jaccard indexed candidate, ties to the
    // smallest id), or unique (admit).
    "q_dedup_incremental" -> ((s, d) => {
      val (hashedIdx, bandedIdx) = dedupIndex(s, d)
      dedupAdmit(
        corpus(Tables(s, d, "documents")).filter(col("doc_id") % 7 === 3),
        hashedIdx, bandedIdx)
        .orderBy(col("doc_id"))
    }),

    // Eval-split n-gram NOVELTY audit — the memorization-risk read a
    // training pipeline takes before trusting held-out metrics: for
    // each non-train split (the q_split_hash md5 buckets, restated
    // verbatim so split membership is engine- and layout-free), what
    // fraction of its DISTINCT word-trigrams never occurs in the
    // train split. Low novelty means eval text is mostly assembled
    // from memorized training n-grams and benchmark numbers measure
    // recall, not generalization — the corpus-level complement of the
    // per-doc q_decontaminate containment. Plan shape: one trigram
    // explode + (split, gram) distinct, then a gram-keyed equi-join
    // of the eval grams against the train gram set — inverted-index
    // work ∝ shared grams, never corpus²; at 100 TB the train side
    // takes the q_decontaminate_bloom broadcast-bloom prefilter
    // verbatim if the eval side is small.
    "q_ngram_coverage" -> ((s, d) =>
      noveltyReport(gramSplits(Tables(s, d, "documents")))),

    // MOSS overlap pairing (Schleimer, Wilkerson & Aiken, SIGMOD'03
    // §4) — the PAIRING step the winnowing fingerprints exist for:
    // two documents sharing ≥5 RARE fingerprints (df ≤ 20 — MOSS
    // drops ubiquitous fingerprints for exactly this reason: a
    // boilerplate k-gram shared by everyone carries no plagiarism
    // signal and fans out quadratically) are overlap candidates,
    // scored by containment c / min(|A|, |B|). Runs on the planted
    // dedup corpus so exact/near copies make the pairing
    // structurally non-vacuous at any SF. Plan shape: the codegen'd
    // Winnow kernel per row, one fp-keyed inverted-index self-join
    // (work ∝ shared rare fingerprints, bounded by df²/2 per fp —
    // never corpus²), per-doc sizes from doc-keyed windows.
    "q_winnow_overlap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val fps = corpus(Tables(s, d, "documents"))
        .select(col("doc_id"),
          explode(graft.functions.WinnowExpression.winnow(col("text")))
            .as("fp"))
      // sizes count INDEXED (rare) fingerprints only — MOSS's match
      // denominator: an exact copy then scores containment 1.0
      // instead of being diluted by the corpus-common fps the index
      // drops
      val sized = fps
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("fp"))))
        .filter(col("df") <= 20L)
        .withColumn("nfp",
          count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      val l = sized.select(col("fp"), col("doc_id").as("id_a"),
        col("nfp").as("na"))
      val r = sized.select(col("fp"), col("doc_id").as("id_b"),
        col("nfp").as("nb"))
      l.join(r, Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5L)
        // containment in micro-units: shared/min(|A|,|B|) is a
        // rational with a data-dependent denominator — the r10
        // scale-0 house rule (q_dim_audit's sf0.1 finding)
        .select(col("id_a"), col("id_b"), col("shared"),
          expr("""cast(round(shared * cast(1000000 as double) /
                 least(na, nb)) as bigint)""").as("containment_e6"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash: 32-bit majority fingerprint — bit i is the sign of the
    // token-weighted sum of the top bit of md5 nibble i. Runs through
    // the codegen'd graft.functions.SimHash kernel: one digest per
    // token (the equivalent nested-HOF SQL form — kept as the oracle —
    // recomputes md5(token) 32 times per token through interpreted
    // lambdas; SimHashSpec asserts the two agree).
    "q_dedup_simhash" -> ((s, d) => {
      corpus(Tables(s, d, "documents"))
        .select(col("doc_id"),
          graft.functions.SimHashExpression.simhash(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // n-gram Jaccard near-dup via inverted shingle index: explode →
    // self-join on (source, shingle) → per-pair common-shingle count →
    // Jaccard from set sizes (|A∩B| / (|A|+|B|-|A∩B|)). Same result set
    // as the naive blocked cross product, but the cross product is never
    // formed and no per-pair array intersection runs — the shuffle key is
    // the shingle, and pair work is proportional to shared shingles only
    // (the layout that survives 100×: candidate volume follows actual
    // overlap, not block size²).
    "q_dedup_ngram_jaccard" -> ((s, d) =>
      ngramPairs(s, d).orderBy(col("id_a"), col("id_b"))),

    // Asymmetric-CONTAINMENT dedup (Broder's containment coefficient,
    // SEQUENCES'97: C(A⊆B) = |sh(A)∩sh(B)| / |sh(A)|): the detector
    // for sub-document duplication — an excerpt, a quoted article, a
    // doc pasted inside a boilerplate wrapper — which symmetric
    // Jaccard structurally MISSES (an excerpt at 40% of a doc has
    // J ≈ 0.4, far under any dedup threshold, while its containment
    // is ≈ 1). The fixture plants exactly that failure mode: a
    // 40%-token-prefix tier (doc_id % 13 = 2, +300000) whose Jaccard
    // to the original is the prefix fraction by construction. The
    // query emits the pairs a Jaccard-only funnel SHIPS: rounded
    // containment ≥ 0.9 AND rounded Jaccard < 0.6, with the contained
    // side named. Scale posture: ONE projection over the SAME capped
    // inverted-index candidate frame as q_dedup_ngram_jaccard
    // (candPairsOf — shingle-keyed postings join, df cap, pair work
    // proportional to shared shingles); containment adds zero new
    // shuffles, and both divisions are single correctly-rounded IEEE
    // ops on exact integers, bit-identical in both engines.
    "q_containment_dedup" -> ((s, d) => {
      val raw = Tables(s, d, "documents")
      val excerpts = raw.filter(col("doc_id") % 13 === 2)
        .select((col("doc_id") + 300000).as("doc_id"), col("source"),
          expr("array_join(slice(split(text, ' '), 1, " +
            "greatest(1, (size(split(text, ' ')) * 2) div 5)), ' ')")
            .as("text"))
      val docs = corpus(raw).unionByName(excerpts)
      val ca = col("c").cast("double") / col("na")
      val cb = col("c").cast("double") / col("nb")
      candPairsOf(docs)
        .select(col("id_a"), col("id_b"),
          round(col("c").cast("double") /
            (col("na") + col("nb") - col("c")), 9).as("jaccard"),
          round(greatest(ca, cb), 9).as("containment"),
          when(ca >= cb, "a_in_b").otherwise("b_in_a").as("direction"))
        .filter(col("containment") >= 0.9 && col("jaccard") < 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Dedup threshold curve — the OTHER tuning sweep next to
    // q_lsh_tuning: how much of the corpus each Jaccard threshold
    // would remove. ONE pair frame at the widest threshold (0.5, same
    // capped inverted index) serves every τ; per τ the curve reports
    // surviving pair count, documents dropped under the funnel's
    // pair-partner rule verbatim (a doc drops when any SMALLER-id
    // partner exists at ≥ τ — deterministic, one-pass), and the drop
    // fraction of the corpus. This is the number a curator actually
    // stares at before picking 0.6: pairs are abstract, "3% of the
    // corpus disappears" is a decision. τ grid explode over the pair
    // frame + one distinct-count per τ; nothing corpus².
    "q_dedup_threshold_curve" -> ((s, d) => {
      val taus = Seq(0.5, 0.6, 0.7, 0.8)
      // the shared fixture corpus only contains exact/near copies
      // (J ≥ 0.99), which leaves every threshold identical — so the
      // curve PLANTS mid-similarity tiers (the q_ann_recall device):
      // token-prefix variants at ~55/70/75% of each sampled doc, whose
      // Jaccard to the original is the prefix fraction by construction
      // (B ⊂ A ⇒ J = |B|/|A|). Integer (n·num) div den lengths keep
      // both engines bit-identical; each τ then removes a DIFFERENT
      // planted tier and the curve genuinely discriminates.
      val raw = Tables(s, d, "documents")
      def tier(mod: Int, num: Int, den: Int, off: Long) =
        raw.filter(col("doc_id") % mod === 0)
          .select((col("doc_id") + off).as("doc_id"), col("source"),
            expr(("array_join(slice(split(text, ' '), 1, " +
              s"greatest(1, (size(split(text, ' ')) * $num) div $den)), ' ')"))
              .as("text"))
      val docs = corpus(raw)
        .unionByName(tier(37, 11, 20, 2000000L)) // ~0.55
        .unionByName(tier(41, 7, 10, 3000000L))  // ~0.70
        .unionByName(tier(43, 3, 4, 4000000L))   // ~0.75
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val pairs = ngramPairsOf(docs, minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .persist()
      val byTau = pairs
        .select(col("id_a"), col("id_b"), col("jaccard"),
          explode(typedlit(taus)).as("tau"))
        .filter(col("jaccard") >= col("tau"))
      byTau.groupBy(col("tau"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id_b")).as("n_docs_dropped"))
        .crossJoin(broadcast(nDocs))
        .select(col("tau"), col("n_pairs"), col("n_docs_dropped"),
          round(col("n_docs_dropped").cast("double") /
            col("n_docs").cast("double"), 6).as("drop_frac"))
        .orderBy(col("tau"))
    }),

    // LSH banding tuning curve — the (bands × rows-per-band) sweep a
    // dedup deployment runs before trusting its index (the
    // q_ann_recall companion for MinHash): over ONE 16-hash signature
    // frame, evaluate the three aligned band shapes 16×1 / 8×2 / 4×4
    // against the exact inverted-index near-dup pair set (ngramPairs,
    // THE operator truth — not all-pairs, so the truth side is
    // scale-safe too). r divides evenly, so agreement on an r=4 band
    // implies agreement on its r=2 sub-bands implies r=1: candidate
    // sets are NESTED and recall is provably non-increasing in r
    // (pinned in NearDupSpec) while precision rises — the curve IS
    // the b/r tradeoff. Work per config: one band-keyed equi-join
    // streaming candidates through a spillable shuffle + one
    // pair-keyed truth join; nothing corpus².
    "q_lsh_tuning" -> ((s, d) => {
      // NOT spread (r16, measured and rejected): spreading the corpus
      // ahead of shingles+minhash read 2.56 s min vs 2.01 s without
      // (sf0.1, cpus=32, 4 reps) — the banding explode feeds three
      // band-keyed shuffles whose 32-partition inputs then cost more
      // scheduling than the narrow pass saves; the r15 batch-6 lesson
      // (candPairsOf yes, blanket corpus no) holds here too
      val c = corpus(Tables(s, d, "documents"))
        .withColumn("sh", shingles(col("text")))
        .withColumn("sigs", minhashSigs(col("sh")))
        .select(col("doc_id"), col("sigs"))
        .persist()
      val truth = ngramPairs(s, d).select(col("id_a"), col("id_b"))
        .persist()
      val truthCnt = truth.agg(count(lit(1)).as("n_truth"))
      val results = Seq((16, 1), (8, 2), (4, 4)).map { case (b, r) =>
        val banded = c.select(col("doc_id"),
          explode(transform(sequence(lit(0), lit(b - 1)), bb => struct(
            bb.as("band"),
            md5(array_join(transform(
              slice(col("sigs"), bb * r + 1, lit(r)),
              x => x.cast("string")), "|")).as("bkey")))).as("bb"))
          .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
        val l = banded.select(col("band"), col("bkey"),
          col("doc_id").as("id_a"))
        val rr = banded.select(col("band"), col("bkey"),
          col("doc_id").as("id_b"))
        l.join(rr, Seq("band", "bkey"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
          .join(truth.withColumn("hit", lit(1)),
            Seq("id_a", "id_b"), "left_outer")
          .agg(count(lit(1)).as("n_cand"),
            coalesce(sum(col("hit")), lit(0L)).as("n_caught"))
          .select(lit(b.toLong).as("bands"),
            lit(r.toLong).as("rows_per_band"),
            col("n_cand"), col("n_caught"))
      }
      results.reduce(_ unionByName _)
        .crossJoin(broadcast(truthCnt))
        .select(col("bands"), col("rows_per_band"), col("n_truth"),
          col("n_cand"), col("n_caught"),
          round(col("n_caught").cast("double") /
            nullif(col("n_truth"), lit(0L)).cast("double"), 6).as("recall"),
          round(col("n_caught").cast("double") /
            nullif(col("n_cand"), lit(0L)).cast("double"), 6).as("prec"))
        .orderBy(col("rows_per_band"))
    }),

    // Exact duplicated-SPAN detection — the shuffle-friendly
    // restatement of exact-substring dedup (suffix-array dedup à la
    // "Deduplicating Training Data Makes Language Models Better"):
    // every positional word-8-gram span is hashed; a span is duplicated
    // iff its text occurs in ≥2 distinct documents; a document is
    // dropped when ≥50% of its spans are duplicated elsewhere. Unlike
    // the pairwise kernels there is NO self-join anywhere — the span
    // table is aggregated (distinct-doc count per hash) and mark-joined
    // back, so total work is linear in corpus spans and the only
    // shuffle keys are the uniform md5 span hash and doc_id. A hot span
    // adds rows to one count, never a quadratic bucket, which is why
    // this needs no df cap where ngramPairs does.
    "q_dedup_substring" -> ((s, d) => {
      // (doc_id, hash) is read by both the per-hash aggregation and the
      // mark-join probe. NOT persisted (changed in r5): the exploded
      // frame is one 32-hex row PER TOKEN POSITION — ~5-8× the corpus
      // bytes — so caching it at 100 TB demands multi-corpus-scale
      // executor storage/spill to save only a second streaming MD5
      // pass; recomputing the narrow projection per consumer is the
      // layout that survives 100× (the local cost is ~0.3 s at sf0.1).
      val spans = corpus(Tables(s, d, "documents"))
        .select(col("doc_id"), explode(spanHashUdf(col("text"))).as("h"))
      val perSpan = spans.distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      spans.join(perSpan, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .withColumn("dup_frac",
          round(col("n_dup_spans").cast("double") / col("n_spans"), 9))
        .withColumn("drop_doc", col("dup_frac") >= 0.5d)
        .orderBy(col("doc_id"))
    }),

    // C4-style sentence-level dedup: any sentence occurring in more
    // than one document is kept only in the lowest-doc_id occurrence
    // (the C4 "keep one occurrence of each three-sentence span" rule at
    // sentence granularity; within the keeper doc repeated occurrences
    // all survive — a documented simplification, the keeper decision is
    // per (sentence, doc)). Same linear layout as q_dedup_substring:
    // sentence-hash aggregation + mark-join, no self-join, no df cap
    // needed — a sentence shared by a million docs is one min()
    // aggregate and a 1-row build side, never a pair explosion.
    "q_dedup_sentences" -> ((s, d) => {
      val sents = corpus(Tables(s, d, "documents"))
        .select(col("doc_id"), explode(expr(
          "regexp_extract_all(text || '.', '[^.!?]+[.!?]+', 0)")).as("sent"))
        .select(col("doc_id"), md5(trim(lower(col("sent")))).as("h"))
        .persist() // two readers: keeper aggregation + mark-join probe
      val keeper = sents.groupBy(col("h")).agg(min(col("doc_id")).as("keep_doc"))
      sents.join(keeper, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sentences"),
          sum(when(col("doc_id") === col("keep_doc"), 1L).otherwise(0L))
            .as("n_kept"))
        .withColumn("kept_frac",
          round(col("n_kept").cast("double") / col("n_sentences"), 9))
        .orderBy(col("doc_id"))
    }),

    // Decontamination: test-set leakage check. A derived "benchmark"
    // slice (doc_id % 50 == 3) is screened against the rest of the
    // corpus by word-trigram CONTAINMENT — max over corpus docs of
    // |sh(b) ∩ sh(c)| / |sh(b)| — the asymmetric cousin of Jaccard
    // (a benchmark item fully quoted inside a long document scores 1.0
    // even though Jaccard is tiny). Same inverted-index layout as the
    // pair query: work scales with shared shingles, not corpus².
    "q_decontaminate" -> ((s, d) => decontaminate(s, d, bloom = false)),

    // Same operator with a broadcast BLOOM pre-filter on the corpus
    // side — the runtime-filter / semi-join-reduction pattern that
    // matters at 100 TB: the benchmark suite is the SMALL side (its
    // distinct-shingle bloom fits executor memory at any corpus
    // scale), so corpus postings that cannot match any bench shingle
    // are dropped MAP-SIDE before the shuffle join ever moves them.
    // Bloom false positives only let extra postings through; the
    // exact equi-join then drops them, so the result — and the
    // oracle — are identical to q_decontaminate (DedupSpec asserts
    // the side-by-side equality).
    "q_decontaminate_bloom" -> ((s, d) => decontaminate(s, d, bloom = true)),

    // Near-dup CLUSTER formation: connected components over the
    // verified pair graph — the step after any pair generator
    // (keep-one-per-cluster needs clusters, not pairs). Min-label
    // propagation: every node starts labeled with its own id; each
    // round pulls the minimum label across edges until fixpoint. The
    // fixpoint is the component-minimum id — unique regardless of
    // execution/iteration order, so the result is deterministic and a
    // recursive-CTE oracle can restate it. Rounds = graph diameter
    // (near-dup clusters are tiny cliques → 2-3 rounds); each round is
    // one shuffle join on node id — the GraphX/Pregel layout without
    // leaving the DataFrame API. The driver loop only coordinates
    // (checks a changed-count), it never holds data.
    "q_dedup_clusters" -> ((s, d) =>
      clustersHybrid(ngramPairs(s, d).select(col("id_a"), col("id_b")))
        .orderBy(col("doc_id"))),



    // Connected components by ALTERNATING STAR CONTRACTION — the same
    // clusters as q_dedup_clusters (one oracle restated for both), but
    // the published two-round-primitive MapReduce algorithm (Kiveris,
    // Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
    // Components in MapReduce and Beyond", SoCC'14): repeat
    // large-star / small-star until the edge set is a fixpoint, at
    // which point every node hangs directly off its component minimum.
    //
    // Why ship BOTH: label propagation advances one hop per round, so
    // its round count is the component RADIUS — fine for star-shaped
    // near-dup clusters, a scale-killer on a 100 TB graph with a long
    // chain (a million-hop component = a million shuffle rounds).
    // Star contraction halves tree heights every alternation:
    // O(log² n) rounds worst-case, O(log n) observed, INDEPENDENT of
    // diameter (CCStarsSpec drives a 64-chain through both: 6
    // alternations here vs 32 propagation rounds there). Each round is
    // the same primitive the cluster loop already pays — a groupBy-min
    // on the edge key and an equi-join — so the per-round cost is
    // unchanged; only the round COUNT scales differently.
    "q_cc_stars" -> ((s, d) => {
      val pairs = ngramPairs(s, d).select(col("id_a"), col("id_b"))
      ccStars(pairs.toDF("src", "dst"))
        .toDF("doc_id", "cluster_id").orderBy(col("doc_id"))
    }),

    // The composed dedup FUNNEL: the stages this pack proves in
    // isolation, chained in the order a curation pipeline runs them,
    // with a first-failing-stage `reason` per document (the dedup twin
    // of q_quality_gate):
    //   1. exact     — content-hash groups, smallest id survives
    //   2. neardup   — a stage-1 survivor drops when any smaller-id
    //                  stage-1 survivor is a verified n-gram-Jaccard
    //                  partner (the pair-partner rule: deterministic
    //                  and one-pass; transitive-closure keeping is the
    //                  separate q_dedup_clusters operator)
    //   3. benchmark — eval-set members leave the training corpus
    //   4. contaminated — remaining docs containing ≥0.8 of any
    //                  benchmark doc's trigrams (inverted index with
    //                  the same df cap as q_decontaminate)
    // Each stage consumes the previous stage's survivors, so drop sets
    // are disjoint by construction. Shuffles: the hash group (uniform
    // md5 key), the capped shingle self-join, and the final flag joins
    // on doc_id — no stage holds more than the pair kernel does alone.
    "q_dedup_pipeline" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      funnelReasons(corpus(docs), docs)
        .select(col("doc_id"), col("reason").isNull.as("keep"), col("reason"))
        .orderBy(col("doc_id"))
    }),

    // Split-leakage audit (r9) — the evaluation-integrity probe every
    // training pipeline owes its eval sets: random splits do NOT
    // respect near-duplicate structure, so a doc's near-copy can land
    // in val/test while the doc itself trains (q_split_hash's md5
    // buckets are id-keyed, and the planted copies carry NEW ids —
    // exactly how real crawl dups split). Composes two shipped
    // definitions by reference: q_split_hash's 90/5/5 bucket rule and
    // the ngramPairs kernel (jaccard ≥ 0.6 over the planted corpus,
    // exact copies included at jaccard 1). A pair leaks iff exactly
    // one side is train; each leaked eval doc reports its strongest
    // train partner ((jaccard desc, id) total order). Shuffles: the
    // pair kernel's own + two doc-keyed split joins — nothing new at
    // scale. The decontamination twin: q_decontaminate guards against
    // BENCHMARK contamination, this guards the pipeline's OWN splits.
    "q_split_leakage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = corpus(Tables(s, d, "documents"))
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long")
      val split = when(bucket < 58982, "train")
        .when(bucket < 62259, "val").otherwise("test")
      val sp = c.select(col("doc_id"), split.as("split"))
      val j = ngramPairsOf(c)
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")),
          Seq("id_a"))
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")),
          Seq("id_b"))
        .filter(
          (col("split_a") === "train" && col("split_b") =!= "train") ||
            (col("split_b") === "train" && col("split_a") =!= "train"))
        .select(
          when(col("split_a") === "train", col("id_b")).otherwise(col("id_a"))
            .as("eval_id"),
          when(col("split_a") === "train", col("split_b"))
            .otherwise(col("split_a")).as("eval_split"),
          when(col("split_a") === "train", col("id_a")).otherwise(col("id_b"))
            .as("train_id"),
          col("jaccard"))
      val w = Window.partitionBy(col("eval_id"))
        .orderBy(col("jaccard").desc, col("train_id"))
      j.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("eval_id"), col("eval_split"), col("train_id"),
          col("jaccard"))
        .orderBy(col("eval_id"))
    }),

    // SimHash NEAR-dup MATCHING via pigeonhole blocking (Manku et al.,
    // WWW'07 "Detecting Near-Duplicates for Web Crawling"): two 32-bit
    // fingerprints within Hamming distance K=3 must agree EXACTLY on at
    // least one of the K+1=4 disjoint 8-bit blocks, so candidates come
    // from a hash equi-join on (block_no, block_bits) — work is
    // proportional to fingerprints actually sharing a block, never
    // corpus² — and the exact popcount(xor) filter then removes the
    // false candidates. Unlike MinHash banding this detection is EXACT
    // (the pigeonhole bound has no false negatives at ≤K), and unlike
    // q_dedup_simhash (fingerprints only) it emits the PAIRS. The 4×
    // block explode is a constant fan-out; a boilerplate-heavy block
    // value concentrates candidates on one join key, which at scale is
    // an AQE skew split, not a plan change — TESTED, not just
    // asserted: SkewJoinSpec plants a hot block key on this exact
    // join layout (simhashPairsFrom) and pins the
    // SortMergeJoin(skew=true) split.
    "q_simhash_hamming" -> ((s, d) => {
      // the 32-bit fingerprint is base-2-parsed ONCE per document row
      // (conv on the corpus-sized frame); everything downstream of the
      // join — block key, xor, popcount, first-block dedup — is pure
      // integer bit arithmetic in whole-stage codegen. The first
      // version parsed both fingerprints per CANDIDATE (millions of
      // conv calls through the quadratic side of the join) and an HOF
      // first-block filter ran interpreted lambdas per candidate;
      // both measured far slower than this layout.
      simhashPairs(s, d).orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash RADIUS tuning curve — the fingerprint member of the
    // tuning-sweep family (LSH bands, dedup τ, IVF nprobe, now the
    // Hamming radius): pair and affected-doc counts at r ∈ {1, 2, 3},
    // all from ONE pigeonhole candidate frame (the q_simhash_hamming
    // kernel — radii are nested by construction, so the curve is
    // provably non-decreasing and the sweep costs one join). The
    // radius prices the precision/recall trade a simhash deployment
    // tunes: each extra bit of radius admits more true near-dups AND
    // more hash collisions.
    "q_hamming_curve" -> ((s, d) => {
      val pairs = simhashPairs(s, d)
        .withColumn("radius", explode(typedlit(Seq(1L, 2L, 3L))))
        .filter(col("hamming") <= col("radius"))
      val nPairs = pairs.groupBy(col("radius"))
        .agg(count(lit(1)).as("n_pairs"))
      val nDocs = pairs
        .select(col("radius"), explode(array(col("id_a"), col("id_b")))
          .as("id"))
        .groupBy(col("radius"))
        .agg(countDistinct(col("id")).as("n_docs_affected"))
      nPairs.join(nDocs, Seq("radius"))
        .orderBy(col("radius"))
    }),

    // Set-similarity join with PREFIX FILTERING (SSJoin / PPJoin,
    // Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): shingle-set pairs
    // with Jaccard ≥ τ, GLOBAL across sources (where
    // q_dedup_ngram_jaccard joins within a source under a df cap, this
    // is the capless cross-source form — prefix filtering replaces the
    // cap as the candidate-bounding device). Jaccard ≥ τ forces
    // |A∩B| ≥ τ·max(|A|,|B|), so under ANY global total order on
    // shingles a matching pair must share a shingle inside each side's
    // first n−⌈τn⌉+1 shingles — the index carries ONLY that prefix,
    // not the full posting list. With rare-shingles-first as the
    // canonical order (ascending global df, shingle as tie-break) the
    // prefix entries are the LEAST frequent, so candidate volume
    // collapses vs the full inverted index (~6× fewer candidate pairs
    // on the sf0.1 corpus): boilerplate shingles never generate
    // candidates at all. The length filter (τ·na ≤ nb ≤ na/τ) prunes
    // candidates before the verify join. No global rank frame is ever
    // materialized — the canonical order is the (df, shingle) SORT KEY
    // inside a per-doc window, so the only shuffles are shingle-keyed
    // (df counts, candidate join) and doc-keyed (prefix position,
    // verify sets). Verification joins the two bounded per-doc shingle
    // arrays (doc length caps the row, corpus size never does) and
    // computes exact Jaccard. Prefix filtering has NO false negatives,
    // so the oracle is the plain definitional inverted-index join —
    // and DedupSpec pins the operator to that form side-by-side.
    "q_setsim_prefix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val TAU = 0.6
      // the shingle ARRAY is the unit of reuse: set size rides the
      // explode (no per-doc count agg) and the verify join reads the
      // array directly (no collect_set re-assembly) — two corpus
      // shuffles fewer than the first cut
      // persist the shared subtrees (the q_link_predict lesson):
      // docSets' shingle kernel feeds the token explode AND both
      // verify-join sides, prefix sits on both sides of the candidate
      // join — unpersisted, the UDF ran ~4× (measured 3.27 → 1.90 s
      // at sf0.1 idle-host; harness housekeeping clears)
      val docSets = corpus(Tables(s, d, "documents"))
        .select(col("doc_id"), shingles(col("text")).as("ws"))
        .persist()
      val toks = docSets.select(col("doc_id"), size(col("ws")).as("n"),
        explode(col("ws")).as("w"))
      val tdf = toks.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val prefix = toks.join(tdf, Seq("w"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("w"))))
        .filter(col("pos") <= col("n") - ceil(col("n") * TAU) + 1)
        .select(col("w"), col("doc_id"), col("n"))
        .persist()
      val cand = prefix.select(col("w"), col("doc_id").as("id_a"), col("n").as("na"))
        .join(prefix.select(col("w"), col("doc_id").as("id_b"), col("n").as("nb")),
          Seq("w"))
        .filter(col("id_a") < col("id_b"))
        .filter(col("nb") >= ceil(col("na") * TAU) &&
          col("na") >= ceil(col("nb") * TAU))
        .select(col("id_a"), col("id_b"), col("na"), col("nb")).distinct()
      cand
        .join(docSets.select(col("doc_id").as("id_a"), col("ws").as("wa")), Seq("id_a"))
        .join(docSets.select(col("doc_id").as("id_b"), col("ws").as("wb")), Seq("id_b"))
        .withColumn("c", size(array_intersect(col("wa"), col("wb"))).cast("long"))
        .withColumn("jaccard",
          round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 9))
        .filter(col("jaccard") >= TAU)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    })
  )

  /** Shared body of q_decontaminate / q_decontaminate_bloom (identical
    * semantics; `bloom` only inserts the map-side pre-filter). */
  private def decontaminate(s: SparkSession, d: String, bloom: Boolean): DataFrame = {
    val c = Tables(s, d, "documents")
      .withColumn("sh", shingles(col("text")))
      .withColumn("n", size(col("sh")))
    val bench = c.filter(col("doc_id") % 50 === 3)
    val corpus = c.filter(col("doc_id") % 50 =!= 3)
    val bx = bench.select(col("doc_id").as("bench_id"), col("n").as("nb"),
      explode(col("sh")).as("s"))
    val cx0 = corpus.select(col("doc_id").as("corpus_id"),
      explode(col("sh")).as("s"))
    // Hot-shingle guard (see SHINGLE_DF_CAP): shingles appearing in
    // more than cap corpus documents are dropped from the index —
    // they would fan each bench posting out df-fold, and a trigram
    // shared by thousands of documents is boilerplate, not leakage
    // signal. Computed BEFORE any bloom pre-filter so both variants
    // cap on the same document frequencies.
    val hot = cx0.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > SHINGLE_DF_CAP).select(col("s"))
    // unhinted for the same reason as the funnel's cap join: the hot
    // set grows with the corpus; AQE picks broadcast only while it fits
    val capped = cx0.join(hot, Seq("s"), "left_anti")
    val cx = if (!bloom) capped else {
      // one pass over the small bench side builds the filter (the
      // count only sizes it exactly); 1% fpp keeps it ~1.2 KB per
      // thousand shingles. SIZE CONTRACT: the driver-built broadcast
      // bloom is sized by the BENCH side, which in a real pipeline is
      // a FIXED benchmark suite (GSM8K/MMLU/...; a few GB of shingles
      // at most, at any corpus size) — the testdata's doc_id%50 slice
      // models that eval set and happens to be a corpus fraction, but
      // the operator's scale story assumes the eval set, like every
      // broadcast side in this repo, does not grow with the corpus.
      // A corpus-sized probe set belongs in the unbloomed variant
      // (plain shuffle joins, no driver materialization).
      val bsh = bx.select(col("s")).distinct()
      val bf = bsh.stat.bloomFilter("s", math.max(bsh.count(), 1L), 0.01)
      val bfB = s.sparkContext.broadcast(bf)
      val mightMatch = udf((x: String) => bfB.value.mightContain(x))
      capped.filter(mightMatch(col("s")))
    }
    val best = bx.join(cx, Seq("s"))
      .groupBy(col("bench_id"), col("corpus_id"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .groupBy(col("bench_id"))
      .agg(round(max(col("common")).cast("double") / first(col("nb")), 9)
        .as("max_containment"))
    bench.select(col("doc_id").as("bench_id"))
      .join(best, Seq("bench_id"), "left_outer")
      .select(col("bench_id"),
        coalesce(col("max_containment"), lit(0d)).as("max_containment"),
        (coalesce(col("max_containment"), lit(0d)) >= 0.8).as("contaminated"))
      .orderBy(col("bench_id"))
  }

  /** Verified near-dup pairs via the inverted shingle index (see
    * q_dedup_ngram_jaccard) — shared by the pair query and the cluster
    * query. */
  private def ngramPairs(s: SparkSession, d: String): DataFrame =
    ngramPairsOf(corpus(Tables(s, d, "documents")))

  /** One LARGE-STAR round: every node u links each STRICTLY-LARGER
    * neighbor to the minimum of its closed neighborhood m(u) =
    * min(Γ(u) ∪ {u}). Operates on the symmetrized edge list; shuffles:
    * one groupBy-min on the node key + one equi-join back — both on
    * uniformly-hashed ids.
    *
    * NOT de-distincted (r16, measured): duplicates are harmless to the
    * min-agg and the trailing distinct, so dropping sym.distinct here
    * and dir.distinct in [[smallStar]] (2 exchanges/alternation) was
    * A/B'd — interleaved TimeQuery mins over the 4 ccStars consumers
    * (cc_stars/dedup_clusters/image_dedup_clusters/media_pipeline,
    * sf0.1 cpus=32, 2 windows each side): 15.19/14.30 s with vs
    * 15.11/13.76 s without. No win, and q_dedup_clusters trends SLOWER
    * (3.58/3.26 vs 3.35/2.67): its ngram candidate pairs carry real
    * duplicate edges, so the early dedup was load-bearing reduction,
    * not overhead. Kept as-is. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val m = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    sym.join(m, "src").filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
  }

  /** One SMALL-STAR round: orient every edge large→small, then every
    * node links its smaller neighbors AND itself to the minimum among
    * them. Same two-shuffle primitive as [[largeStar]]. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst")).distinct()
    val m = dir.groupBy(col("src")).agg(min(col("dst")).as("m"))
    dir.join(m, "src")
      .select(explode(array(col("dst"), col("src"))).as("v"), col("m"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst")).distinct()
  }

  /** Connected components via alternating star contraction. Returns
    * (node, component-minimum) for every node that appears in `edges`
    * — identical semantics to the label-propagation loop, reached in
    * O(log² n) worst-case / O(log n) observed alternations instead of
    * the component radius. The driver sees one constant-width checksum
    * row per alternation (a multiset hash of the edge set — xxhash64
    * per edge, summed — so the fixpoint test never collects edges);
    * the 30-alternation backstop fails LOUDLY: 2^30 tree-height
    * halvings cover any graph that fits in storage, so hitting it
    * means the contraction is broken, not the graph big. */
  private[graft] def ccStars(edges: DataFrame): DataFrame =
    ccStarsWithRounds(edges)._1

  /** The contraction loop, returning (labels, alternation count) — the
    * count lets CCStarsSpec assert diameter-independence (a 64-chain in
    * O(log n) alternations) without reaching into the loop, and
    * `maxRounds` lets FixpointSpec fire the backstop. */
  private[graft] def ccStarsWithRounds(edges: DataFrame,
      maxRounds: Int = 30): (DataFrame, Int) = {
    // constant-width fixpoint probe: a multiset hash of the edge set
    // (xxhash64 per edge, summed exactly in DECIMAL(38,0) — an ANSI
    // Long sum overflows — next to the loop's count). The driver never
    // collects edges, only this one row per alternation. Each
    // alternation references `cur` ~6 times, so it must be cut: a
    // cache-only loop grows the LOGICAL plan 6^r nodes and a ~10-round
    // run OOMs the driver on the plan alone.
    val init = edges.filter(col("src") =!= col("dst")).distinct().cut()
    val digest = sum(xxhash64(col("src"), col("dst"))
      .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
    val (cur, rounds, converged) =
      Iterate.fixpoint(init, maxRounds)(digest)(e => smallStar(largeStar(e)))
    require(converged, "ccStars: star contraction did not reach a " +
      s"fixpoint within $maxRounds alternations — largeStar/smallStar broke " +
      "an invariant (every finite graph converges in O(log² n) rounds)")
    // fixpoint edges form stars (child, root): child labels from the
    // edges, root labels from the distinct dst side
    val out = cur.select(col("src").as("node"), col("dst").as("label"))
      .unionByName(cur.select(col("dst").as("node"), col("dst").as("label")))
      .distinct()
    (out, rounds)
  }

  /** The ngram-pairs kernel under an explicit cap — DedupSpec runs it
    * with a cap low enough to FIRE on real data (testdata df maxima
    * never reach the default 1000) and pins the capped semantics to
    * the declarative inverted-index-with-cap definition the DuckDB
    * oracles restate. */
  private[graft] def ngramPairsKernel(docs: DataFrame, cap: Int): DataFrame =
    ngramPairsOf(docs, cap)

  /** The capped inverted-index CANDIDATE frame over any (doc_id,
    * source, text) set — (id_a, id_b, na, nb, c) with c = shared
    * surviving shingles. The symmetric-Jaccard pair kernel and the
    * asymmetric-containment kernel are two projections of this ONE
    * frame, so their candidate generation cannot drift. */
  private def candPairsOf(docs: DataFrame,
      cap: Int = SHINGLE_DF_CAP): DataFrame = {
    // spread (r15): the shingle UDF is the kernel's heavy narrow step
    // and docs usually arrives at 1-split scan parallelism
    val c = graft.Tables.spread(docs, col("doc_id"))
      .withColumn("sh", shingles(col("text")))
      .withColumn("n", size(col("sh")))
    val ex = c.select(col("source"), col("doc_id"), col("n"),
      explode(col("sh")).as("s"))
    // Hot-shingle guard (see SHINGLE_DF_CAP), computed as a window
    // count over the SAME (source, s) shuffle the pair join needs —
    // one pass over the postings, shingles computed once. (The
    // collect_list posting-list folding would be cheaper still but
    // materializes an unbounded hot shingle's whole posting list in
    // one agg buffer BEFORE the cap can fire — an OOM at 100 TB; the
    // window count spills.)
    import org.apache.spark.sql.expressions.Window
    val wdf = Window.partitionBy(col("source"), col("s"))
    val kept = ex.withColumn("df", count(lit(1)).over(wdf))
      .filter(col("df") <= cap).drop("df")
    val l = kept.select(col("source"), col("s"),
      col("doc_id").as("id_a"), col("n").as("na"))
    val r = kept.select(col("source"), col("s"),
      col("doc_id").as("id_b"), col("n").as("nb"))
    l.join(r, Seq("source", "s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("c"))
  }

  /** The same kernel over any (doc_id, source, text) set — the funnel
    * query runs it on stage-1 survivors instead of the full corpus. */
  private def ngramPairsOf(docs: DataFrame,
      cap: Int = SHINGLE_DF_CAP,
      minJaccard: Double = 0.6): DataFrame =
    candPairsOf(docs, cap)
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 9)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** The dedup FUNNEL kernel over any (doc_id, source, text) frame
    * `c0` — the q_dedup_pipeline stages, extracted so the standalone
    * funnel and the composed q_curation_pipeline share one definition:
    *   exact (content-hash keeper) → neardup (pair-partner rule over
    *   stage-1 survivors) → benchmark (eval-set membership) →
    *   contaminated (≥0.8 benchmark-trigram containment, capped
    *   inverted index). `benchDocs` is the RAW documents frame the
    *   benchmark slice is drawn from. Emits (doc_id, reason) for every
    *   input doc, reason NULL = survives all four stages. Each stage
    *   consumes the previous stage's survivors, so drop sets are
    *   disjoint by construction. */
  private[operators] def funnelReasons(c0: DataFrame,
      benchDocs: DataFrame): DataFrame = {
    val c = c0.withColumn("h", md5(col("text")))
    val keepers = c.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val s1 = c.join(keepers, Seq("h"))
      .withColumn("exact_dropped", col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("source"), col("text"), col("exact_dropped"))
    val surv1 = s1.filter(!col("exact_dropped"))
      .select(col("doc_id"), col("source"), col("text"))
    val dropNear = ngramPairsOf(surv1)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("near_dropped", lit(true))
    val isBench = col("doc_id") % 50 === 3 && col("doc_id") < 100000
    val surv2 = surv1.join(dropNear, Seq("doc_id"), "left_anti")
    val bench = benchDocs.filter(col("doc_id") % 50 === 3)
      .withColumn("sh", shingles(col("text")))
    val bx = bench.select(col("doc_id").as("bench_id"),
      size(col("sh")).as("nb"), explode(col("sh")).as("s"))
    val cx0 = surv2.filter(!isBench)
      .select(col("doc_id").as("corpus_id"),
        explode(shingles(col("text"))).as("s"))
    val hot = cx0.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > SHINGLE_DF_CAP).select(col("s"))
    // no broadcast hint: the hot SET itself grows with the corpus
    // (every boilerplate shingle past the cap), so forcing a driver
    // collect would OOM at scale — AQE broadcasts while it fits and
    // falls back to a shuffled anti-join past the threshold
    val cx = cx0.join(hot, Seq("s"), "left_anti")
    val contaminated = bx.join(cx, Seq("s"))
      .groupBy(col("bench_id"), col("corpus_id"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .groupBy(col("corpus_id"))
      .agg(max(round(col("common").cast("double") / col("nb"), 9)).as("mc"))
      .filter(col("mc") >= 0.8)
      .select(col("corpus_id").as("doc_id"), lit(true).as("cont_dropped"))
    s1.join(dropNear, Seq("doc_id"), "left_outer")
      .join(contaminated, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_dropped"), "exact")
          .when(col("near_dropped"), "neardup")
          .when(isBench, "benchmark")
          .when(col("cont_dropped"), "contaminated").as("reason"))
  }

  /** DuckDB restatement of [[funnelReasons]] over any
    * (doc_id, source, text) CTE `src` — ends in `freason(doc_id,
    * reason)`. Shared by the q_dedup_pipeline and q_curation_pipeline
    * oracles exactly as the Spark side shares the kernel. */
  private[operators] def funnelReasonsSqlDuckFrom(src: String): String =
    s"""ch AS (SELECT doc_id, source, text, md5(text) AS h FROM $src),
       |k1 AS (SELECT h, MIN(doc_id) AS keeper FROM ch GROUP BY h),
       |s1 AS (SELECT ch.doc_id, ch.source, ch.text,
       |         ch.doc_id <> k1.keeper AS exact_dropped
       |       FROM ch JOIN k1 USING (h)),
       |surv1 AS (SELECT doc_id, source, text FROM s1 WHERE NOT exact_dropped),
       |${ngramPairsSqlDuckFrom("surv1")},
       |dropnear AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
       |surv2 AS (SELECT s.doc_id, s.text FROM surv1 s
       |          LEFT JOIN dropnear dn ON s.doc_id = dn.doc_id
       |          WHERE dn.doc_id IS NULL),
       |bsh AS (SELECT doc_id,
       |    list_distinct(list_transform(
       |      range(1, greatest(len(string_split(lower(text),' ')) - 2, 1) + 1),
       |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))) AS sh
       |  FROM documents WHERE doc_id % 50 = 3),
       |bex AS (SELECT doc_id AS bench_id, len(sh) AS nb, unnest(sh) AS s FROM bsh),
       |csh AS (SELECT doc_id,
       |    list_distinct(list_transform(
       |      range(1, greatest(len(string_split(lower(text),' ')) - 2, 1) + 1),
       |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))) AS sh
       |  FROM surv2 WHERE NOT (doc_id % 50 = 3 AND doc_id < 100000)),
       |cex AS (SELECT doc_id AS corpus_id, unnest(sh) AS s FROM csh),
       |cdf AS (SELECT s, COUNT(*) AS df FROM cex GROUP BY s),
       |ckept AS (SELECT cex.corpus_id, cex.s
       |          FROM cex JOIN cdf USING (s) WHERE cdf.df <= $SHINGLE_DF_CAP),
       |cm AS (SELECT b.bench_id, c.corpus_id, b.nb, COUNT(*) AS common
       |       FROM bex b JOIN ckept c ON b.s = c.s
       |       GROUP BY b.bench_id, c.corpus_id, b.nb),
       |cont AS (SELECT corpus_id AS doc_id FROM (
       |    SELECT corpus_id,
       |      MAX(round(CAST(common AS DOUBLE) / nb, 9)) AS mc
       |    FROM cm GROUP BY corpus_id) t WHERE mc >= 0.8),
       |freason AS (
       |  SELECT s1.doc_id,
       |    CASE WHEN s1.exact_dropped THEN 'exact'
       |         WHEN dn.doc_id IS NOT NULL THEN 'neardup'
       |         WHEN s1.doc_id % 50 = 3 AND s1.doc_id < 100000 THEN 'benchmark'
       |         WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
       |    END AS reason
       |  FROM s1
       |  LEFT JOIN dropnear dn ON s1.doc_id = dn.doc_id
       |  LEFT JOIN cont ct ON s1.doc_id = ct.doc_id)""".stripMargin

  /** DuckDB restatement of the ngramPairs kernel — same inverted shingle
    * index, same df cap, ending in `pairs(id_a, id_b, jaccard)`. Shared
    * by the q_dedup_ngram_jaccard and q_dedup_clusters oracles exactly
    * as the Spark side shares ngramPairs, so the cap is part of the
    * checked definition on both sides. Expects a `corpus` CTE in scope. */
  private val ngramPairsSqlDuck: String = ngramPairsSqlDuckFrom("corpus")

  /** The candidate fragment over any (doc_id, source, text) CTE `src`
    * — CTE chain sh/ex/sdf/kept/cand mirroring [[candPairsOf]]; `cand`
    * carries (id_a, id_b, na, nb, c). */
  private def candSqlDuckFrom(src: String): String =
    s"""sh AS (
       |  SELECT doc_id, source,
       |    list_distinct(list_transform(
       |      range(1, greatest(len(string_split(lower(text),' ')) - 2, 1) + 1),
       |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))) AS sh
       |  FROM $src),
       |ex AS (SELECT doc_id, source, len(sh) AS n, unnest(sh) AS s FROM sh),
       |sdf AS (SELECT source, s, COUNT(*) AS df FROM ex GROUP BY source, s),
       |kept AS (SELECT ex.doc_id, ex.source, ex.n, ex.s
       |         FROM ex JOIN sdf USING (source, s) WHERE sdf.df <= $SHINGLE_DF_CAP),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
       |         COUNT(*) AS c
       |  FROM kept a JOIN kept b
       |    ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.n, b.n)""".stripMargin

  /** The pair fragment over any (doc_id, source, text) CTE `src` — the
    * funnel oracle runs it on `surv1`, mirroring [[ngramPairsOf]]. */
  private def ngramPairsSqlDuckFrom(src: String,
      minJaccard: Double = 0.6): String =
    s"""${candSqlDuckFrom(src)},
       |pairs AS (
       |  SELECT id_a, id_b,
       |         round(CAST(c AS DOUBLE) / (na + nb - c), 9) AS jaccard
       |  FROM cand
       |  WHERE round(CAST(c AS DOUBLE) / (na + nb - c), 9) >= $minJaccard)""".stripMargin

  /** The minhash signature + band-key CTE chain over `corpus` — the
    * oracle restatement of [[minhashSigs]] + [[bandedSigs]], shared by
    * q_dedup_minhash and q_dedup_incremental. Yields CTE `banded`
    * (doc_id, sh, band, bkey). */
  private val minhashBandedSqlDuck: String =
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      range(1, greatest(len(string_split(lower(text),' ')) - 2, 1) + 1),
       |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))) AS sh
       |  FROM corpus),
       |hx AS (
       |  SELECT doc_id, sh,
       |    list_transform(sh, s -> [
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, 13), k ->
       |          CAST(strpos('0123456789abcdef', substring(md5(s), k, 1)) - 1 AS BIGINT))),
       |        (a, x) -> a * 16 + x),
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(13, 25), k ->
       |          CAST(strpos('0123456789abcdef', substring(md5(s), k, 1)) - 1 AS BIGINT))),
       |        (a, x) -> a * 16 + x)]) AS hx
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id, sh,
       |    list_transform(range(0, $NUM_HASHES),
       |      j -> list_min(list_transform(hx, h -> (h[1] + j * h[2]) % $MOD))) AS sigs
       |  FROM hx),
       |banded AS (
       |  SELECT doc_id, sh, b AS band,
       |    md5(array_to_string(sigs[b*$ROWS_PER_BAND+1 : b*$ROWS_PER_BAND+$ROWS_PER_BAND], '|')) AS bkey
       |  FROM sigs, unnest(range(0, $BANDS)) AS t(b))""".stripMargin

  /** DuckDB twin of the components every clustering kernel converges
    * to ([[clustersHybrid]], [[ccStars]]): edges = both directions of
    * pairs(id_a, id_b), and reach(node, r) = every node each node
    * reaches; cluster_id = MIN(r). */
  private[operators] val componentsSqlDuck: String =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node)""".stripMargin

  /** The q_dedup_clusters / q_cc_stars oracle: the n-gram pair graph's
    * components, one truth for two physical strategies. */
  private val dedupClustersSqlDuck: String =
    s"""WITH RECURSIVE $corpusSqlDuck,
       |$ngramPairsSqlDuck,
       |$componentsSqlDuck
       |SELECT node AS doc_id, MIN(r) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** Inverted-index-with-cap decontamination in DuckDB — the shared
    * oracle of q_decontaminate and q_decontaminate_bloom. */
  private val decontaminateSqlDuck: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      range(1, greatest(len(string_split(lower(text),' ')) - 2, 1) + 1),
       |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))) AS sh
       |  FROM documents),
       |bex AS (SELECT doc_id AS bench_id, len(sh) AS nb, unnest(sh) AS s
       |        FROM sh WHERE doc_id % 50 = 3),
       |cex AS (SELECT doc_id AS corpus_id, unnest(sh) AS s
       |        FROM sh WHERE doc_id % 50 <> 3),
       |cdf AS (SELECT s, COUNT(*) AS df FROM cex GROUP BY s),
       |ckept AS (SELECT cex.corpus_id, cex.s
       |          FROM cex JOIN cdf USING (s) WHERE cdf.df <= $SHINGLE_DF_CAP),
       |cm AS (SELECT b.bench_id, c.corpus_id, b.nb, COUNT(*) AS common
       |       FROM bex b JOIN ckept c ON b.s = c.s
       |       GROUP BY b.bench_id, c.corpus_id, b.nb),
       |best AS (SELECT bench_id,
       |           round(CAST(MAX(common) AS DOUBLE) / ANY_VALUE(nb), 9)
       |             AS max_containment
       |         FROM cm GROUP BY bench_id)
       |SELECT b.bench_id,
       |  COALESCE(best.max_containment, CAST(0 AS DOUBLE)) AS max_containment,
       |  COALESCE(best.max_containment, CAST(0 AS DOUBLE)) >= 0.8 AS contaminated
       |FROM (SELECT doc_id AS bench_id FROM documents WHERE doc_id % 50 = 3) b
       |LEFT JOIN best USING (bench_id)
       |ORDER BY bench_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      s"""WITH $corpusSqlDuck
         |SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
         |       COUNT(*) AS n_copies
         |FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
         |ORDER BY keeper_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $corpusSqlDuck,
         |$minhashBandedSqlDuck
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)), 9) AS jaccard
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(a.sh || b.sh)), 9) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH $corpusSqlDuck,
         |$minhashBandedSqlDuck,
         |hashed AS (SELECT doc_id, md5(text) AS h FROM corpus),
         |ex AS (
         |  SELECT n.doc_id, MIN(i.doc_id) AS exact_partner
         |  FROM hashed n JOIN hashed i ON n.h = i.h
         |  WHERE n.doc_id % 7 = 3 AND i.doc_id % 7 <> 3
         |  GROUP BY n.doc_id),
         |nearc AS (
         |  SELECT DISTINCT a.doc_id AS nid, b.doc_id AS iid,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          len(list_distinct(a.sh || b.sh)), 9) AS j
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE a.doc_id % 7 = 3 AND b.doc_id % 7 <> 3
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |              len(list_distinct(a.sh || b.sh)), 9) >= 0.6),
         |best AS (
         |  SELECT nid AS doc_id, iid AS near_partner, j AS near_j
         |  FROM (SELECT nid, iid, j,
         |          row_number() OVER (PARTITION BY nid ORDER BY j DESC, iid) AS rk
         |        FROM nearc) WHERE rk = 1)
         |SELECT c.doc_id,
         |  CASE WHEN ex.exact_partner IS NOT NULL THEN 'exact_dup'
         |       WHEN best.near_partner IS NOT NULL THEN 'near_dup'
         |       ELSE 'unique' END AS verdict,
         |  COALESCE(ex.exact_partner, best.near_partner) AS partner_id,
         |  CASE WHEN ex.exact_partner IS NULL THEN best.near_j END AS jaccard
         |FROM (SELECT doc_id FROM corpus WHERE doc_id % 7 = 3) c
         |LEFT JOIN ex USING (doc_id)
         |LEFT JOIN best USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH $corpusSqlDuck
         |SELECT doc_id,
         |  array_to_string(list_transform(range(1, 33), i ->
         |    CASE WHEN list_sum(list_transform(string_split(lower(text), ' '),
         |      w -> CASE WHEN strpos('0123456789abcdef', substring(md5(w), i, 1)) - 1 >= 8
         |                THEN 1 ELSE -1 END)) >= 0
         |         THEN '1' ELSE '0' END), '') AS simhash
         |FROM corpus ORDER BY doc_id""".stripMargin,

    // Same pigeonhole block join as the Spark plan (the all-pairs form
    // is quadratic even at oracle scale); hamming = positional char
    // diff count over the two bitstrings — identical to popcount(xor).
    // the q_simhash_hamming pair CTEs swept over the radius grid
    "q_hamming_curve" ->
      s"""$simhashBlockedDuck,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_filter(range(1, 33), i ->
         |      substring(a.sh, i, 1) <> substring(b.sh, i, 1))) AS hamming
         |  FROM blocked a JOIN blocked b
         |    ON a.blk = b.blk AND a.bits = b.bits AND a.doc_id < b.doc_id
         |  WHERE len(list_filter(range(1, 33), i ->
         |      substring(a.sh, i, 1) <> substring(b.sh, i, 1))) <= 3),
         |sweep AS (
         |  SELECT CAST(r AS BIGINT) AS radius, id_a, id_b
         |  FROM pairs, unnest(range(1, 4)) AS g(r)
         |  WHERE hamming <= r)
         |SELECT radius, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) FROM (
         |     SELECT id_a AS id FROM sweep s2 WHERE s2.radius = sweep.radius
         |     UNION ALL
         |     SELECT id_b FROM sweep s3 WHERE s3.radius = sweep.radius) u)
         |    AS n_docs_affected
         |FROM sweep GROUP BY radius ORDER BY radius""".stripMargin,

    // the q_fingerprint_winnow rolling-hash/window CTEs over the
    // planted corpus, then the same rare-fp inverted join
    "q_winnow_overlap" ->
      s"""WITH $corpusSqlDuck,
         |${TextAnalytics.winnowDuck("corpus")},
         |fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE i <= nh - 3),
         |rare AS (
         |  SELECT doc_id, fp FROM (
         |    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df
         |    FROM fps) t WHERE df <= 20),
         |sized AS (
         |  SELECT doc_id, fp,
         |    COUNT(*) OVER (PARTITION BY doc_id) AS nfp
         |  FROM rare)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(COUNT(*) AS BIGINT) AS shared,
         |  CAST(round(COUNT(*) * CAST(1000000 AS DOUBLE) /
         |    least(MAX(a.nfp), MAX(b.nfp))) AS BIGINT) AS containment_e6
         |FROM sized a
         |JOIN sized b
         |  ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING COUNT(*) >= 5
         |ORDER BY id_a, id_b""".stripMargin,

    // same md5 split rule as q_split_hash, same distinct-trigram form
    // as q_setsim_prefix, gram-keyed left join
    "q_ngram_coverage" ->
      ngramCoverageDuck(
        """  round(CAST(1 AS DOUBLE) -
          |    CAST(COUNT(train.seen) AS DOUBLE) / COUNT(*), 9) AS novelty""".stripMargin),

    "q_simhash_hamming" ->
      s"""$simhashBlockedDuck
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_filter(range(1, 33), i ->
         |    substring(a.sh, i, 1) <> substring(b.sh, i, 1))) AS hamming
         |FROM blocked a JOIN blocked b
         |  ON a.blk = b.blk AND a.bits = b.bits AND a.doc_id < b.doc_id
         |WHERE len(list_filter(range(1, 33), i ->
         |    substring(a.sh, i, 1) <> substring(b.sh, i, 1))) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // The DEFINITIONAL form: prefix filtering is exact (no false
    // negatives), so the oracle is the plain inverted-index join over
    // FULL shingle posting lists, global across sources, no df cap —
    // the Spark side must reproduce it while indexing only the
    // rare-first prefixes.
    "q_setsim_prefix" ->
      s"""WITH $corpusSqlDuck,
         |shl AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(1, greatest(len(string_split(lower(text),' ')) - 2, 1) + 1),
         |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))) AS sh
         |  FROM corpus),
         |ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM shl),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         |         COUNT(*) AS c
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.n, b.n)
         |SELECT id_a, id_b,
         |  round(CAST(c AS DOUBLE) / (na + nb - c), 9) AS jaccard
         |FROM cand
         |WHERE round(CAST(c AS DOUBLE) / (na + nb - c), 9) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin,

    // Same inverted-index-with-cap computation as the Spark plan: the
    // corpus-side posting list drops shingles with df > cap BEFORE the
    // bench⋈corpus match, bench set sizes stay uncapped. The bloom
    // variant has the SAME oracle by construction — the pre-filter
    // never removes a matching posting.
    "q_decontaminate" -> decontaminateSqlDuck,
    "q_decontaminate_bloom" -> decontaminateSqlDuck,

    // Transitive closure over the same pair graph; cluster_id = MIN
    // reachable id, the unique fixpoint the Spark label propagation
    // converges to.
    "q_dedup_clusters" ->
      dedupClustersSqlDuck,

    // star contraction computes the SAME clusters as label propagation
    // — one declarative truth, two physical strategies, so the oracle
    // is restated verbatim (the q_asof_join / q_asof_join_native
    // pattern: the engine must reach the identical result down a
    // different execution path)
    "q_cc_stars" ->
      dedupClustersSqlDuck,

    "q_dedup_ngram_jaccard" ->
      s"""WITH $corpusSqlDuck,
         |$ngramPairsSqlDuck
         |SELECT id_a, id_b, jaccard FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,

    // same corpus + a 40%-prefix excerpt tier, same capped candidate
    // fragment, containment/Jaccard as two projections of `cand`
    "q_containment_dedup" ->
      s"""WITH $corpusSqlDuck,
         |planted AS (
         |  SELECT * FROM corpus
         |  UNION ALL
         |  SELECT doc_id + 300000, source,
         |    array_to_string((string_split(text, ' '))[1:greatest(1,
         |      (len(string_split(text, ' ')) * 2) // 5)], ' ')
         |  FROM documents WHERE doc_id % 13 = 2),
         |${candSqlDuckFrom("planted")}
         |SELECT id_a, id_b,
         |  round(CAST(c AS DOUBLE) / (na + nb - c), 9) AS jaccard,
         |  round(greatest(CAST(c AS DOUBLE) / na,
         |                 CAST(c AS DOUBLE) / nb), 9) AS containment,
         |  CASE WHEN CAST(c AS DOUBLE) / na >= CAST(c AS DOUBLE) / nb
         |       THEN 'a_in_b' ELSE 'b_in_a' END AS direction
         |FROM cand
         |WHERE round(greatest(CAST(c AS DOUBLE) / na,
         |                     CAST(c AS DOUBLE) / nb), 9) >= 0.9
         |  AND round(CAST(c AS DOUBLE) / (na + nb - c), 9) < 0.6
         |ORDER BY id_a, id_b""".stripMargin,

    // same pairs prelude at the widest threshold, same pair-partner
    // drop rule, same τ grid
    "q_dedup_threshold_curve" ->
      s"""WITH $corpusSqlDuck,
         |planted AS (
         |  SELECT * FROM corpus
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, source,
         |    array_to_string((string_split(text, ' '))[1:greatest(1,
         |      (len(string_split(text, ' ')) * 11) // 20)], ' ') AS text
         |  FROM documents WHERE doc_id % 37 = 0
         |  UNION ALL
         |  SELECT doc_id + 3000000, source,
         |    array_to_string((string_split(text, ' '))[1:greatest(1,
         |      (len(string_split(text, ' ')) * 7) // 10)], ' ')
         |  FROM documents WHERE doc_id % 41 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000, source,
         |    array_to_string((string_split(text, ' '))[1:greatest(1,
         |      (len(string_split(text, ' ')) * 3) // 4)], ' ')
         |  FROM documents WHERE doc_id % 43 = 0),
         |${ngramPairsSqlDuckFrom("planted", 0.5)},
         |taus AS (SELECT * FROM (VALUES (0.5), (0.6), (0.7), (0.8)) t(tau)),
         |by_tau AS (
         |  SELECT tau, id_a, id_b FROM pairs, taus WHERE jaccard >= tau),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM planted)
         |SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_docs_dropped,
         |  round(CAST(COUNT(DISTINCT id_b) AS DOUBLE) /
         |    CAST(n_docs AS DOUBLE), 6) AS drop_frac
         |FROM by_tau, nd GROUP BY tau, n_docs ORDER BY tau""".stripMargin,

    // same signature CTEs as q_dedup_minhash, same pairs prelude as
    // q_dedup_ngram_jaccard (truth), banding generalized over the cfg
    // grid; the cfg LEFT JOIN keeps the 3-row skeleton on empty input
    "q_lsh_tuning" ->
      s"""WITH $corpusSqlDuck,
         |$ngramPairsSqlDuck,
         |shl AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(1, greatest(len(string_split(lower(text),' ')) - 2, 1) + 1),
         |      i -> array_to_string((string_split(lower(text),' '))[i:i+2], ' '))) AS sh
         |  FROM corpus),
         |hx AS (
         |  SELECT doc_id,
         |    list_transform(sh, s -> [
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, 13), k ->
         |          CAST(strpos('0123456789abcdef', substring(md5(s), k, 1)) - 1 AS BIGINT))),
         |        (a, x) -> a * 16 + x),
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(13, 25), k ->
         |          CAST(strpos('0123456789abcdef', substring(md5(s), k, 1)) - 1 AS BIGINT))),
         |        (a, x) -> a * 16 + x)]) AS hx
         |  FROM shl),
         |sigs AS (
         |  SELECT doc_id,
         |    list_transform(range(0, $NUM_HASHES),
         |      j -> list_min(list_transform(hx, h -> (h[1] + j * h[2]) % $MOD))) AS sigs
         |  FROM hx),
         |cfg AS (SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4)) t(b, r)),
         |banded AS (
         |  SELECT doc_id, b, r, band,
         |    md5(array_to_string(sigs[band*r+1 : band*r+r], '|')) AS bkey
         |  FROM sigs, cfg, LATERAL unnest(range(0, b)) AS t(band)),
         |cnd AS (
         |  SELECT DISTINCT a.b, a.r, a.doc_id AS id_a, c.doc_id AS id_b
         |  FROM banded a JOIN banded c
         |    ON a.b = c.b AND a.r = c.r AND a.band = c.band
         |      AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
         |tr AS (SELECT id_a, id_b FROM pairs),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM tr),
         |joined AS (
         |  SELECT cnd.b, cnd.r,
         |    CASE WHEN tr.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM cnd LEFT JOIN tr
         |    ON cnd.id_a = tr.id_a AND cnd.id_b = tr.id_b),
         |per AS (
         |  SELECT cfg.b, cfg.r,
         |    CAST(COUNT(joined.hit) AS BIGINT) AS n_cand,
         |    CAST(COALESCE(SUM(joined.hit), 0) AS BIGINT) AS n_caught
         |  FROM cfg LEFT JOIN joined ON joined.b = cfg.b AND joined.r = cfg.r
         |  GROUP BY cfg.b, cfg.r)
         |SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band,
         |  n_truth, n_cand, n_caught,
         |  round(CAST(n_caught AS DOUBLE) / CAST(nullif(n_truth, 0) AS DOUBLE), 6)
         |    AS recall,
         |  round(CAST(n_caught AS DOUBLE) / CAST(nullif(n_cand, 0) AS DOUBLE), 6)
         |    AS prec
         |FROM per, nt ORDER BY rows_per_band""".stripMargin,

    "q_dedup_sentences" ->
      s"""WITH $corpusSqlDuck,
         |sent AS (
         |  SELECT doc_id, md5(trim(lower(s))) AS h
         |  FROM (SELECT doc_id,
         |          unnest(regexp_extract_all(text || '.', '[^.!?]+[.!?]+')) AS s
         |        FROM corpus)),
         |k AS (SELECT h, MIN(doc_id) AS keep_doc FROM sent GROUP BY h)
         |SELECT s.doc_id, COUNT(*) AS n_sentences,
         |  CAST(SUM(CASE WHEN s.doc_id = k.keep_doc THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_kept,
         |  round(CAST(SUM(CASE WHEN s.doc_id = k.keep_doc THEN 1 ELSE 0 END)
         |             AS DOUBLE) / COUNT(*), 9) AS kept_frac
         |FROM sent s JOIN k USING (h)
         |GROUP BY s.doc_id
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_substring" ->
      s"""WITH $corpusSqlDuck,
         |tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM corpus),
         |spans AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(t) - 7, 1) + 1),
         |      i -> md5(array_to_string(t[i:i+7], ' ')))) AS h
         |  FROM tok),
         |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h)
         |SELECT s.doc_id, COUNT(*) AS n_spans,
         |  CAST(SUM(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_spans,
         |  round(CAST(SUM(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 9) AS dup_frac,
         |  round(CAST(SUM(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*), 9) >= 0.5 AS drop_doc
         |FROM spans s JOIN nd USING (h)
         |GROUP BY s.doc_id
         |ORDER BY doc_id""".stripMargin,

    // the same pair fragment + the q_split_hash bucket rule verbatim;
    // orientation and the strongest-partner rank restated
    "q_split_leakage" ->
      s"""WITH $corpusSqlDuck,
         |${ngramPairsSqlDuckFrom("corpus")},
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
         |              AS INTEGER) < 58982 THEN 'train'
         |         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
         |              AS INTEGER) < 62259 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM corpus),
         |leaks AS (
         |  SELECT
         |    CASE WHEN a.split = 'train' THEN p.id_b ELSE p.id_a END AS eval_id,
         |    CASE WHEN a.split = 'train' THEN b.split ELSE a.split END AS eval_split,
         |    CASE WHEN a.split = 'train' THEN p.id_a ELSE p.id_b END AS train_id,
         |    p.jaccard
         |  FROM pairs p
         |  JOIN sp a ON a.doc_id = p.id_a
         |  JOIN sp b ON b.doc_id = p.id_b
         |  WHERE (a.split = 'train' AND b.split <> 'train')
         |     OR (b.split = 'train' AND a.split <> 'train'))
         |SELECT eval_id, eval_split, train_id, jaccard FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id
         |    ORDER BY jaccard DESC, train_id) AS rk
         |  FROM leaks) t
         |WHERE rk = 1 ORDER BY eval_id""".stripMargin,

    // The funnel restated stage by stage through the SHARED fragment:
    // exact groups → pair kernel over surv1 → benchmark slice →
    // capped-inverted-index containment over surv2.
    "q_dedup_pipeline" ->
      s"""WITH $corpusSqlDuck,
         |${funnelReasonsSqlDuckFrom("corpus")}
         |SELECT doc_id, reason IS NULL AS keep, reason
         |FROM freason ORDER BY doc_id""".stripMargin
  )
}
