package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The composed flagship: the reference's ENTIRE per-post ETL trace as
  * ONE oracle-checked plan (posts-from-hashtags.js:358-379 →
  * extendPostsAndSave:295-350), chaining the operators that every other
  * query proves in isolation:
  *
  *   1. dialect-dispatched TagPage parse  (S2/P1-P3, Ingest.postsFromTagPage)
  *   2. existence anti-join dedup         (F5/J1, :295-300)
  *   3. inner user enrichment, user-not-found drops (J3, :304-308)
  *   4. username blocklist                (F1, :310-313)
  *   5. left location enrichment + GPS truthiness gate (J2/P6, :143-195)
  *   6. Rekognition-style labels          (M1/J5, :327-333, LabelGen UDTF)
  *   7. per-post K=1 topics, top-7, 2% cut (T1-T9, topics.js via :335)
  *   8. upsert-merge into the existing Post set (K1, :346-348)
  *
  * Inputs are derived deterministically from the TPC-H-ish testdata:
  * each `orders` row becomes one TagPage JSON document — built with
  * to_json in the exact nested shapes of SURVEY §1.4 (GraphQL dialect
  * for even keys, "data" dialect for odd keys, null-caption and
  * carousel-fallback cases included) — so stage 1 is a REAL from_json
  * parse, and the DuckDB oracle can restate every stage in closed form.
  *
  * Scale notes: the parse/labels/explode stages are narrow; every
  * shuffle hashes on the post id (dedup anti-join, labels agg, topics
  * agg/window, merge anti-join) so exchanges are reusable and no stage
  * holds more than one post's state; the fixed-size location dim
  * broadcasts, while the SF-growing user/document sides carry no
  * broadcast hint (AQE broadcasts while they fit and falls back to a
  * shuffle join past the threshold); the merge does NOT hint broadcast
  * on the update side (it is the big side here — AQE picks the
  * strategy).
  */
object Pipeline extends graft.QueryPack {

  /** One TagPage JSON per order row, dialect by key parity (§1.4 shapes).
    * Odd keys exercise the data dialect's null-caption default ('' via
    * coalesce, keys %10==3) and the carousel image fallback (%4==3).
    * Captions come from the `documents` table (doc_id derived from the
    * order key — documents ids are contiguous 0..N-1), joined as a
    * broadcast dim, so the topic stage has real text to work on;
    * truncated to 160 chars — captions are short text, and the
    * truncation keeps the per-post topic work bounded by a constant
    * instead of the full document length. */
  private[graft] def rawPages(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 160).as("o_comment"))
    val ndocs = docs.agg((max(col("doc_id")) + 1).as("nd"))
    val o = Tables(s, d, "orders")
      // CPU-heavy narrow pipeline (to_json → from_json → in-row topic
      // DP) rides scan parallelism, and a row-group-limited parquet
      // file caps that far below the cores (measured: 4 tasks on 32
      // cores, stages of 3.4-7.2 s — guide §2.5 "repartition
      // immediately after the read"). Deterministic hash exchange on
      // the key (150k distinct values ≫ partitions), sized by
      // defaultParallelism so it scales with the cluster instead of a
      // constant; at scale a properly-sized scan already has ≥ this
      // many splits and the exchange is one cheap pass of narrow rows.
      .repartition(s.sparkContext.defaultParallelism, col("o_orderkey"))
      .crossJoin(broadcast(ndocs))
      .withColumn("dkey", col("o_orderkey") % col("nd"))
      // documents grows with SF — no broadcast hint (same rule as
      // q_tfidf): AQE broadcasts while it fits and falls back to a
      // shuffle join when it doesn't, instead of a forced driver-side
      // build that OOMs at scale
      .join(docs, col("dkey") === col("doc_id"))
    val likeC = (col("o_orderkey") % 1000).as("count")
    val comC = (col("o_orderkey") % 100).as("count")
    val graphql = o.filter(col("o_orderkey") % 2 === 0).select(to_json(struct(
      struct(struct(struct(array(struct(struct(
        col("o_orderkey").cast("string").as("id"),
        concat(lit("sc"), col("o_orderkey")).as("shortcode"),
        concat(lit("https://cdn.example.com/"), col("o_orderkey"), lit(".jpg"))
          .as("thumbnail_src"),
        concat(lit("Photo of item "), col("o_orderkey") % 5)
          .as("accessibility_caption"),
        lit("GraphImage").as("__typename"),
        struct(likeC).as("edge_media_preview_like"),
        struct(comC).as("edge_media_to_comment"),
        struct(array(struct(struct(col("o_comment").as("text")).as("node")))
          .as("edges")).as("edge_media_to_caption")
      ).as("node"))).as("edges")).as("edge_hashtag_to_media")).as("hashtag"))
        .as("graphql"))).as("json"))
    val data = o.filter(col("o_orderkey") % 2 === 1).select(to_json(struct(
      struct(struct(array(struct(struct(array(struct(struct(
        col("o_orderkey").cast("string").as("id"),
        concat(lit("sc"), col("o_orderkey")).as("code"),
        likeC.as("like_count"),
        comC.as("comment_count"),
        struct(when(col("o_orderkey") % 10 === 3, lit(null).cast("string"))
          .otherwise(col("o_comment")).as("text")).as("caption"),
        when(col("o_orderkey") % 4 === 1,
          struct(array(struct(concat(lit("https://cdn.example.com/a"),
            col("o_orderkey"), lit(".jpg")).as("url"))).as("candidates")))
          .as("image_versions2"),
        when(col("o_orderkey") % 4 === 3,
          array(struct(struct(array(struct(concat(lit("https://cdn.example.com/c"),
            col("o_orderkey"), lit(".jpg")).as("url"))).as("candidates"))
            .as("image_versions2")))).as("carousel_media")
      ).as("media"))).as("medias")).as("layout_content"))).as("sections"))
        .as("recent")).as("data"))).as("json"))
    graphql.unionByName(data)
  }

  private val topicsType =
    "array<struct<rk:bigint,name:string,confidence:double>>"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_etl_pipeline" -> ((s, d) => {
      // 1. dialect parse (both §1.4 dialects through one union plan).
      // NOT cached (r5): when each dialect branch re-parsed the full
      // page batch, caching post-parse paid for itself; after r4's
      // single-parse dialect dispatch the parse is a 0.2 s narrow map
      // at sf0.1 while the columnar cache write of the parsed structs
      // costs ~1.4 s — the cache became strictly slower than letting
      // the two dialect branches each run the cheap parse. The
      // downstream persist point (the enriched batch below) still
      // bounds total re-parses at two.
      val parsed = Ingest.parseTagPage(rawPages(s, d))
      val posts = Ingest.postsFromParsed(parsed, "hashtag")
        .withColumn("id", col("id").cast("long"))
      // 2. anti-join dedup against the already-ingested id set (the 'F'
      //    slice plays the reference's Post.findOne existence check)
      val seen = Tables(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("id"))
      val fresh = posts.join(seen, Seq("id"), "left_anti")
      // 3. inner user enrich. The user key is derived from the post id
      //    modulo (max custkey + 37): ids landing past the real key
      //    range have no user row and drop — the reference's
      //    user_not_found path (:304-308) — with a data-independent
      //    drop fraction at any SF. The 1-row max aggregate broadcasts.
      val mck = Tables(s, d, "customer").agg(max(col("c_custkey")).as("mck"))
      val users = Tables(s, d, "customer").select(col("c_custkey"),
        concat(lit("u"), col("c_custkey")).as("username"),
        col("c_name").as("fullname"))
      val withUser = fresh.crossJoin(broadcast(mck))
        .withColumn("ukey", col("id") % (col("mck") + 37) + 1)
        // customer grows with SF — unhinted, AQE decides (see rawPages)
        .join(users, col("ukey") === col("c_custkey"))
        // 4. blocklist on the enriched username (:310-313)
        .filter(col("c_custkey") % 53 =!= 13)
      // 5. left location enrich from the nation dim; GPS only when both
      //    coordinates are non-null and non-zero (the JS-truthiness gate
      //    of locationFromDetail, :184)
      val locs = Tables(s, d, "nation").select(col("n_nationkey"),
        col("n_name").as("location_name"),
        (col("n_nationkey").cast("double") - lit(12.0d)).as("llat"),
        (col("n_nationkey") * 2 - 24).cast("double").as("llng"))
      // The enriched batch feeds THREE downstream branches (labels,
      // topics, final projection) and the merge reads the result twice;
      // without materialization Spark recomputes the whole
      // parse+join subtree per branch (~6× measured). persist() = the
      // reference's own layout (the enriched post batch is materialized
      // before labels/topics run); at cluster scale this is the
      // checkpoint/exchange-reuse point. The harness unpersists between
      // queries.
      val withLoc = withUser.withColumn("lkey", col("id") % 30)
        .join(broadcast(locs), col("lkey") === col("n_nationkey"), "left_outer")
        .withColumn("gps_lng", when(col("n_nationkey").isNotNull &&
          col("llat") =!= 0d && col("llng") =!= 0d, col("llng")))
        .withColumn("gps_lat", when(col("n_nationkey").isNotNull &&
          col("llat") =!= 0d && col("llng") =!= 0d, col("llat")))
        .persist()
      // 6. labels through the graft_labels Generator over the media
      //    payload (caption bytes stand in for the image body, exactly
      //    like q_multimodal_labels), re-aggregated to the post grain
      val labels = withLoc
        .select(col("id"), graft.functions.LabelGen.labels(col("caption").cast("binary")))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_labels"),
          max(when(col("label_rank") === 1, col("name"))).as("top_label"))
      // 7. per-post K=1 topics over the assembled topic document
      //    (T1 assembly + the exact Gibbs fixpoint of q_topics_per_doc).
      //    A post's caption is SHORT text, so the whole per-post topic
      //    model — term counts, ranking, top-7 cut, smoothed-tf
      //    confidence — runs as ONE narrow array expression on the post
      //    row: no token explode, no shuffle, no re-join (the window
      //    formulation cost two extra shuffles + sorts over the 2.5M-row
      //    token stream; this is embarrassingly parallel and measured
      //    ~2.5× cheaper at sf0.1). The in-row count is O(v·n) per post
      //    with n bounded by the caption length — the right trade
      //    exactly because the document is per-post tiny; the corpus-
      //    scale variant with unbounded documents is q_topics_per_doc.
      val tdoc = Ingest.topicDocument(col("caption"), col("accessibility"),
        col("fullname"), col("location_name"))
      val withTopics = withLoc
        .withColumn("toks", filter(TextAnalytics.tokens(tdoc), TextAnalytics.keepToken _))
        .withColumn("topics", expr(
          s"""filter(
             |  transform(
             |    slice(array_sort(
             |      transform(array_distinct(toks), t -> named_struct(
             |        'cnt', size(filter(toks, x -> x = t)), 'term', t)),
             |      (a, b) ->
             |        CASE WHEN a.cnt > b.cnt THEN -1 WHEN a.cnt < b.cnt THEN 1
             |             WHEN a.term < b.term THEN -1 WHEN a.term > b.term THEN 1
             |             ELSE 0 END), 1, ${Topics.TOP_TERMS}),
             |    (x, i) -> named_struct(
             |      'rk', CAST(i + 1 AS BIGINT),
             |      'name', x.term,
             |      'confidence', round(100.0D * (CAST(x.cnt AS DOUBLE) + ${Topics.BETA}D) /
             |        (CAST(size(toks) AS DOUBLE) +
             |         CAST(size(array_distinct(toks)) AS DOUBLE) * ${Topics.BETA}D), 9))),
             |  t -> t.confidence >= 2.0D)""".stripMargin))
      val updates = withTopics
        .join(labels, Seq("id"))
        .select(col("id"), lit("hashtag").as("src"), col("permalink"),
          col("caption"), col("mediaUrl"), col("likeCount"), col("commentsCount"),
          col("username"), col("fullname"), col("location_name"),
          col("gps_lng"), col("gps_lat"), col("n_labels"), col("top_label"),
          col("topics"))
      // The merge's anti-join only needs the update IDS, and those are
      // fully determined by key arithmetic (non-'F' status, user key in
      // range, not blocklisted) — a cheap scan with no JSON parse and
      // no dim payloads. Probing with this independent subplan means
      // the expensive update rows are computed exactly ONCE (for the
      // union), instead of persisting them just to read them twice.
      val updateIds = Tables(s, d, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .crossJoin(broadcast(mck))
        .withColumn("ukey", col("o_orderkey") % (col("mck") + 37) + 1)
        .join(users.select(col("c_custkey")), col("ukey") === col("c_custkey"))
        .filter(col("c_custkey") % 53 =!= 13)
        .select(col("o_orderkey").as("id"))
      // 8. merge into the existing Post set (the 'P' slice = rows a prior
      //    run already stored): last-writer-wins per id, no broadcast
      //    hint — updates are the BIG side of this merge, AQE decides
      val target = Tables(s, d, "orders").filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey").as("id"), lit("db").as("src"),
          concat(lit("https://www.instagram.com/p/sc"), col("o_orderkey"),
            lit("/")).as("permalink"),
          lit("").as("caption"), lit(null).cast("string").as("mediaUrl"),
          lit(0L).as("likeCount"), lit(0L).as("commentsCount"),
          lit("legacy").as("username"), lit(null).cast("string").as("fullname"),
          lit(null).cast("string").as("location_name"),
          lit(null).cast("double").as("gps_lng"),
          lit(null).cast("double").as("gps_lat"),
          lit(0L).as("n_labels"), lit(null).cast("string").as("top_label"),
          lit(null).cast(topicsType).as("topics"))
      val merged = target.join(updateIds, Seq("id"), "left_anti")
        .unionByName(updates)
      merged.withColumn("t", explode_outer(col("topics")))
        .select(col("id"), col("src"), col("permalink"), col("caption"),
          col("mediaUrl"), col("likeCount"), col("commentsCount"),
          col("username"), col("fullname"), col("location_name"),
          col("gps_lng"), col("gps_lat"), col("n_labels"), col("top_label"),
          col("t.rk").as("rk"), col("t.name").as("topic"),
          col("t.confidence").as("topic_confidence"))
        .orderBy(col("id"), col("rk"))
    })
  )

  def oracles: Map[String, String] = Map(
    // Every stage restated in closed form: the parse stage is
    // deterministic by construction (the JSON is built from the same
    // order row it is parsed back out of), so the oracle computes the
    // parsed fields directly from the columns.
    "q_etl_pipeline" ->
      s"""WITH mx AS (SELECT MAX(c_custkey) AS mck FROM customer),
         |nd AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
         |ord AS (
         |  SELECT o.*, substring(dd.text, 1, 160) AS o_comment
         |  FROM orders o JOIN nd ON TRUE
         |  JOIN documents dd ON dd.doc_id = o.o_orderkey % nd.nd),
         |posts AS (
         |  SELECT o_orderkey AS id,
         |    'https://www.instagram.com/p/sc' || o_orderkey || '/' AS permalink,
         |    CASE WHEN o_orderkey % 2 = 0 THEN o_comment
         |         ELSE COALESCE(CASE WHEN o_orderkey % 10 = 3 THEN NULL
         |                            ELSE o_comment END, '') END AS caption,
         |    CASE WHEN o_orderkey % 2 = 0
         |           THEN 'https://cdn.example.com/' || o_orderkey || '.jpg'
         |         WHEN o_orderkey % 4 = 1
         |           THEN 'https://cdn.example.com/a' || o_orderkey || '.jpg'
         |         WHEN o_orderkey % 4 = 3
         |           THEN 'https://cdn.example.com/c' || o_orderkey || '.jpg'
         |    END AS mediaUrl,
         |    o_orderkey % 1000 AS likeCount,
         |    o_orderkey % 100 AS commentsCount,
         |    CASE WHEN o_orderkey % 2 = 0
         |         THEN 'Photo of item ' || CAST(o_orderkey % 5 AS VARCHAR)
         |    END AS accessibility
         |  FROM ord WHERE o_orderstatus <> 'F'),
         |enr AS (
         |  SELECT p.*, 'u' || u.c_custkey AS username, u.c_name AS fullname
         |  FROM posts p JOIN mx ON TRUE
         |  JOIN customer u ON u.c_custkey = p.id % (mx.mck + 37) + 1
         |  WHERE u.c_custkey % 53 <> 13),
         |loc AS (
         |  SELECT e.*, n.n_name AS location_name,
         |    CASE WHEN n.n_nationkey IS NOT NULL
         |          AND CAST(n.n_nationkey AS DOUBLE) - CAST(12 AS DOUBLE) <> 0
         |          AND CAST(n.n_nationkey * 2 - 24 AS DOUBLE) <> 0
         |         THEN CAST(n.n_nationkey * 2 - 24 AS DOUBLE) END AS gps_lng,
         |    CASE WHEN n.n_nationkey IS NOT NULL
         |          AND CAST(n.n_nationkey AS DOUBLE) - CAST(12 AS DOUBLE) <> 0
         |          AND CAST(n.n_nationkey * 2 - 24 AS DOUBLE) <> 0
         |         THEN CAST(n.n_nationkey AS DOUBLE) - CAST(12 AS DOUBLE)
         |    END AS gps_lat
         |  FROM enr e LEFT JOIN nation n ON n.n_nationkey = e.id % 30),
         |lab AS (
         |  SELECT id, 1 + fs % 3 AS n_labels,
         |    'label_' || CAST(fs % 7 AS VARCHAR) AS top_label
         |  FROM (SELECT id, ${Multimodal.labelChecksumSqlDuck("caption")} AS fs
         |        FROM loc) f),
         |td AS (
         |  SELECT id, concat_ws('.', caption, accessibility, fullname,
         |    CASE WHEN location_name IS NOT NULL THEN location_name || '.' END) AS doc
         |  FROM loc),
         |tpc AS (
         |  ${Topics.perDocTopicsSqlDuck("td")}),
         |upd AS (
         |  SELECT l.id, 'hashtag' AS src, l.permalink, l.caption, l.mediaUrl,
         |    l.likeCount, l.commentsCount, l.username, l.fullname,
         |    l.location_name, l.gps_lng, l.gps_lat, b.n_labels, b.top_label
         |  FROM loc l JOIN lab b ON b.id = l.id),
         |tgt AS (
         |  SELECT o_orderkey AS id, 'db' AS src,
         |    'https://www.instagram.com/p/sc' || o_orderkey || '/' AS permalink,
         |    '' AS caption, CAST(NULL AS VARCHAR) AS mediaUrl,
         |    CAST(0 AS BIGINT) AS likeCount, CAST(0 AS BIGINT) AS commentsCount,
         |    'legacy' AS username, CAST(NULL AS VARCHAR) AS fullname,
         |    CAST(NULL AS VARCHAR) AS location_name,
         |    CAST(NULL AS DOUBLE) AS gps_lng, CAST(NULL AS DOUBLE) AS gps_lat,
         |    CAST(0 AS BIGINT) AS n_labels, CAST(NULL AS VARCHAR) AS top_label
         |  FROM orders WHERE o_orderstatus = 'P'),
         |merged AS (
         |  SELECT t.* FROM tgt t WHERE t.id NOT IN (SELECT id FROM upd)
         |  UNION ALL
         |  SELECT u.* FROM upd u)
         |SELECT m.*, t.rk, t.term AS topic, t.confidence AS topic_confidence
         |FROM merged m LEFT JOIN tpc t ON t.id = m.id
         |ORDER BY m.id, t.rk""".stripMargin
  )
}
