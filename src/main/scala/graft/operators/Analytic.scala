package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.Iterate.CutOps

/** Analytic-window / OLAP operator pack — the query surface a user of
  * the stored collections needs (SURVEY.md §2.5 notes the reference
  * stores pre-aggregated metrics; computing them is our layer):
  * lag/lead deltas, gap-based sessionization, ROLLUP hierarchies,
  * exact order-statistics, nested array build/flatten (P2/P5 shapes),
  * and the K1 upsert with Mongoose-timestamps semantics (preserve
  * createdAt, refresh updatedAt — SURVEY.md §7.4).
  */
object Analytic extends graft.QueryPack {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** Per-node triangle participation over an undirected edge list
    * `raw(u, v)` (distinct, u < v, BIGINT node ids). Degree-ordered
    * orientation — see the q_triangles entry for the algorithm and
    * scale argument. Nodes in no triangle are absent from the output
    * (same absence contract as ccStars). The oriented adjacency is
    * persisted (three join sides read it; harness/suites clear caches
    * between queries). */
  def trianglesPerNode(raw: DataFrame): DataFrame = {
    // deliberately NOT persisted here: the deg/orientation branches
    // share the upstream exchange, and AQE's ReusedExchange already
    // deduplicates it — adding a persist was MEASURED 40% slower
    // (1.61 → 2.26 s at sf0.1: cache materialization cost with no
    // recompute saved). The q_setsim_prefix/q_link_predict persist
    // lesson applies to UDF-heavy subtrees AQE cannot reuse, not to
    // exchange-aligned aggregation branches.
    val deg = raw.select(col("u").as("n"))
      .unionAll(raw.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val ou = expr("du * 1000000000000 + u")
    val ov = expr("dv * 1000000000000 + v")
    val ori = raw
      .join(deg.select(col("n").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("dg").as("dv")), Seq("v"))
      .select(
        when(ou < ov, col("u")).otherwise(col("v")).as("s"),
        when(ou < ov, col("v")).otherwise(col("u")).as("t"),
        greatest(ou, ov).as("ot"))
      // spread (r15): pre-align the persisted oriented-edge frame on
      // the wedge join key s instead of the ~1-partition AQE coalesce
      .transform(graft.Tables.spread(_, col("s")))
      .persist()
    val tri = ori.as("e1")
      .join(ori.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.ot") < col("e2.ot"))
      .select(col("e1.t").as("b"), col("e2.t").as("c"), col("e1.s").as("a"))
      .join(ori.as("e3"),
        col("b") === col("e3.s") && col("c") === col("e3.t"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Megabasket suppression: drop baskets larger than the cap BEFORE
    * any pair self-join (a B-part basket emits B² pairs). Shared by
    * both CF call sites so the mitigation can't silently diverge. */
  private def capBaskets(b: DataFrame, cap: Int): DataFrame =
    b.withColumn("osz", count(lit(1)).over(Window.partitionBy(col("ok"))))
      .filter(col("osz") <= cap)
      .select(col("ok"), col("pk"))

  /** The megabasket cap: both CF queries and their oracles take it from
    * here. [[itemCf]] and [[itemCfOracle]] take it as a parameter so a
    * spec can lower it where testdata's small orders never reach it. */
  private val CF_ORDER_CAP = 64

  /** The capped cosine top-5 item-item CF pipeline over (ok, pk)
    * baskets — ONE definition shared by q_item_cf (the trained
    * operator) and q_cf_holdout (its holdout gate), so the evaluated
    * model is definitionally the gated one: cap filter → degree frame
    * → order-keyed pair join → ≥2-evidence floor → cosine → per-item
    * rank ≤ 5. Columns: item, rec, c_ij, score, rk. */
  private def cfTop5(baskets: DataFrame, cap: Int): DataFrame = {
    val sized = capBaskets(baskets, cap)
    val deg = sized.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    sized.as("a")
      .join(sized.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .groupBy(col("a.pk").as("item"), col("b.pk").as("rec"))
      .agg(count(lit(1)).as("c_ij"))
      .filter(col("c_ij") >= 2)
      .join(deg.select(col("pk").as("item"), col("c").as("c_i")), Seq("item"))
      .join(deg.select(col("pk").as("rec"), col("c").as("c_j")), Seq("rec"))
      .withColumn("score", round(col("c_ij").cast("double") /
        sqrt((col("c_i") * col("c_j")).cast("double")), 9))
      .withColumn("rk", row_number().over(Window.partitionBy(col("item"))
        .orderBy(col("score").desc, col("rec"))))
      .filter(col("rk") <= 5)
  }

  /** q_item_cf at basket cap `cap`: per part its top-5 co-ordered
    * parts by basket cosine over the 8×-thinned (order, part) rows. */
  private[graft] def itemCf(s: SparkSession, d: String,
      cap: Int = CF_ORDER_CAP): DataFrame = {
    val li = Tables(s, d, "lineitem")
      .filter(col("l_orderkey") % 8 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    cfTop5(li, cap)
      .select(col("item"), col("rk").cast("long").as("rk"), col("rec"),
        col("c_ij"), col("score"))
      .orderBy(col("item"), col("rk"))
  }

  /** The q_item_cf oracle at basket cap `cap`: basket cap + cosine +
    * per-item rank restated term for term. */
  private[graft] def itemCfOracle(cap: Int = CF_ORDER_CAP): String =
    s"""WITH $partLiDuck,
       |sized AS (
       |  SELECT ok, pk FROM (
       |    SELECT ok, pk, COUNT(*) OVER (PARTITION BY ok) AS osz FROM li)
       |  WHERE osz <= $cap),
       |deg AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM sized GROUP BY pk),
       |pairs AS (
       |  SELECT a.pk AS item, b.pk AS rec, CAST(COUNT(*) AS BIGINT) AS c_ij
       |  FROM sized a JOIN sized b ON a.ok = b.ok AND a.pk <> b.pk
       |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2),
       |scored AS (
       |  SELECT item, rec, c_ij,
       |    round(CAST(c_ij AS DOUBLE) /
       |      sqrt(CAST(di.c * dj.c AS DOUBLE)), 9) AS score
       |  FROM pairs
       |  JOIN deg di ON di.pk = item
       |  JOIN deg dj ON dj.pk = rec),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY item
       |    ORDER BY score DESC, rec) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT item, rk, rec, c_ij, score FROM ranked
       |WHERE rk <= 5 ORDER BY item, rk""".stripMargin

  /** The shared part co-occurrence graph (8×-thinned orders, distinct
    * undirected u < v edges) consumed by q_triangles / q_kcore /
    * q_bfs_distance — one definition, with one DuckDB twin
    * ([[partGraphDuck]]) that every part-graph oracle opens with. */
  private def partGraph(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem")
      .filter(col("l_orderkey") % 8 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    // NOT spread (r15, measured A/B and REVERTED): forcing this frame
    // to defaultParallelism partitions made all four consumers SLOWER
    // (sssp 3.9→5.6, kcore 2.5→3.4, bfs 2.2→4.1, triangles 1.4→2.1 s
    // TimeQuery minima) — the iterative rounds carry tiny frontiers,
    // so 32 tasks per round is pure scheduling overhead against the
    // AQE-coalesced few-partition layout. Contrast tradeEdges/q_hits
    // below, whose round joins stream the FULL edge frame each round
    // and did win from the spread.
    li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
  }

  /** [[partGraph]]'s `raw(u, v)` with both edge directions,
    * (src, dst); twin of [[partSymDuck]]. */
  private def partSym(raw: DataFrame): DataFrame =
    raw.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(raw.select(col("v").as("src"), col("u").as("dst")))

  /** q_kcore's peel over undirected `edges(u, v)`: drop every edge with
    * an endpoint of degree < [[KCORE_K]] until the count stops moving.
    * `maxRounds` is the backstop the unrolled oracle states; a spec
    * lowers it to fire the `require`. */
  private[graft] def kcore(edges: DataFrame,
      maxRounds: Int = KCORE_MAX_ROUNDS): DataFrame = {
    val (core, _, converged) =
      Iterate.fixpoint(edges.cut(), maxRounds)() { cur =>
        val keep = cur.select(col("u").as("n"))
          .unionAll(cur.select(col("v").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= KCORE_K).select(col("n"))
        cur.join(keep.withColumnRenamed("n", "u"), Seq("u"))
          .join(keep.withColumnRenamed("n", "v"), Seq("v"))
          .select(col("u"), col("v"))
      }
    require(converged, s"q_kcore: peeling exceeded $maxRounds rounds — " +
      "raise the backstop AND the unrolled oracle depth together (they " +
      "state the same bound)")
    core.select(col("u").as("part"))
      .unionAll(core.select(col("v").as("part")))
      .groupBy(col("part")).agg(count(lit(1)).as("core_deg"))
      .orderBy(col("part"))
  }

  /** The frontier loop q_bfs_distance and q_sssp share, over the cut
    * [[partSym]] adjacency: seed dist 0 at the [[BFS_HUBS]] highest-
    * degree parts, then for r = 1..maxHops cut `relax(frontier, sym,
    * dist, r)` — the rows (node, dist) that enter the table this round
    * — stop on an empty one, and fold it in with `merge(dist, next)`.
    * The hop cap is part of both operators' definitions. */
  private def hubFrontier(s: SparkSession, d: String, maxHops: Int)(
      relax: (DataFrame, DataFrame, DataFrame, Int) => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val sym = partSym(partGraph(s, d)).cut()
    val dist0 = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("dg"))
      .orderBy(col("dg").desc, col("node"))
      .limit(BFS_HUBS)
      .select(col("node"), lit(0L).as("dist"))
      .cut()
    @scala.annotation.tailrec
    def go(dist: DataFrame, frontier: DataFrame, r: Int): DataFrame =
      if (r > maxHops) dist
      else {
        val next = relax(frontier, sym, dist, r).cut()
        if (next.isEmpty) dist else go(merge(dist, next), next, r + 1)
      }
    go(dist0, dist0, 1).orderBy(col("node"))
  }

  /** DuckDB twin of [[partGraph]]'s thinned (order, part) rows: li. */
  private val partLiDuck: String =
    s"""li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem WHERE l_orderkey % 8 = 0)""".stripMargin

  /** DuckDB twin of [[partGraph]]: li and the undirected co-order edge
    * set raw(u, v), u < v. */
  private val partGraphDuck: String =
    s"""$partLiDuck,
       |raw AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk)""".stripMargin

  /** [[partGraphDuck]] with both edge directions, sym(src, dst). */
  private val partSymDuck: String =
    s"""$partGraphDuck,
       |sym AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM raw
       |  UNION ALL SELECT v, u FROM raw)""".stripMargin

  /** [[partGraphDuck]] with each node's degree, deg(n, dg). */
  private val partDegDuck: String =
    s"""$partGraphDuck,
       |deg AS (
       |  SELECT n, CAST(COUNT(*) AS BIGINT) AS dg FROM (
       |    SELECT u AS n FROM raw UNION ALL SELECT v FROM raw) t
       |  GROUP BY n)""".stripMargin

  /** DuckDB twin of [[trianglesPerNode]] over [[partDegDuck]]: the
    * edges oriented low-to-high by the packed (degree, id) rank,
    * ori(s, t, ot), and their triangles tri(a, b, c). */
  private val partTrianglesDuck: String =
    s"""$partDegDuck,
       |ori AS (
       |  SELECT
       |    CASE WHEN du.dg * 1000000000000 + r.u < dv.dg * 1000000000000 + r.v
       |         THEN r.u ELSE r.v END AS s,
       |    CASE WHEN du.dg * 1000000000000 + r.u < dv.dg * 1000000000000 + r.v
       |         THEN r.v ELSE r.u END AS t,
       |    GREATEST(du.dg * 1000000000000 + r.u,
       |             dv.dg * 1000000000000 + r.v) AS ot
       |  FROM raw r JOIN deg du ON r.u = du.n JOIN deg dv ON r.v = dv.n),
       |tri AS (
       |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
       |  FROM ori e1
       |  JOIN ori e2 ON e1.s = e2.s AND e1.ot < e2.ot
       |  JOIN ori e3 ON e3.s = e1.t AND e3.t = e2.t)""".stripMargin

  /** The distinct customer→supplier pairs of every order line on
    * packed-long node ids (customer 2k, supplier 2k+1): the directed
    * half of [[tradeEdges]], and q_pagerank's edge source. */
  private def tradePairs(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
  }

  /** The symmetric customer↔supplier trade graph on packed-long node
    * ids (customers even, suppliers odd) shared by q_pagerank /
    * q_label_propagation / q_modularity. Persisted: the adjacency is
    * static across iterative rounds — the frame a Pregel engine keeps
    * resident (harness/suites clear caches between queries). */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val e0 = tradePairs(s, d)
    // spread (r15, guide §2.4/§2.5): the distinct's byte-tiny output
    // AQE-coalesces to ~1 partition, serializing every iterative
    // round's edge join; hash-partitioning on src ALSO pre-aligns the
    // frame with the rounds' join key
    graft.Tables.spread(
      e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst"))),
      col("src")).persist()
  }

  /** Three synchronous smallest-label-tie LPA rounds over a symmetric
    * `edges(src, dst)` frame → `(node, lab)`. See the
    * q_label_propagation entry for the algorithm and scale rationale;
    * factored out so q_modularity scores exactly the partition the
    * gated LPA operator produces, not a re-derivation that could
    * drift. Each round ends in an eager localCheckpoint — the same
    * pinned-adjacency discipline as q_pagerank's persisted edgesDeg:
    * the label frame is tiny (one row per node) next to the edge
    * frame, and truncating the lineage there means a downstream
    * consumer that references the labels more than once (q_modularity
    * joins them onto BOTH edge endpoints) can never replay an earlier
    * round's edge join, and the optimizer never re-plans the unrolled
    * round subtree. */
  private def lpaLabels(edges: DataFrame): DataFrame = {
    // Round 1 over identity labels degenerates algebraically: every
    // neighbor holds its own (distinct) id, so all counts are 1 and
    // the smallest-label tie-break picks min(neighbor id). That turns
    // the initial nodes-distinct + join + two-level argmax (4 shuffles)
    // into ONE map-side-combinable min agg (1 shuffle) — same labels,
    // bit for bit (the round-2/3 unrolled form stays the oracle's).
    var lab: DataFrame = edges.groupBy(col("dst"))
      .agg(min(col("src")).as("lab"))
      .select(col("dst").as("node"), col("lab"))
    for (_ <- 2 to 3) {
      lab = edges.join(lab.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lab"))
    }
    // ONE cut, after the last round (r16): each round references `lab`
    // exactly once (join → two-level argmax), so the 3-round chain is
    // linear and runs as a single execution over the persisted edge
    // frame — the per-round localCheckpoints only added 2 checkpoint
    // jobs and broke exchange reuse between rounds. The final cut
    // still pins the frame for consumers that reference it more than
    // once (q_modularity joins labels onto BOTH edge endpoints).
    lab.cut()
  }

  /** DuckDB twin of [[lpaLabels]] over [[tradeEdges]]: the directed
    * packed-id trade edges e and three label rounds l1..l3, each
    * node's (cnt DESC, lab ASC) argmax over its neighbors' labels. */
  private val lpaLabelsDuck: String =
    s"""e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
       |c1 AS (SELECT e.dst AS node, l0.lab, COUNT(*) AS cnt
       |       FROM e JOIN l0 ON l0.node = e.src GROUP BY e.dst, l0.lab),
       |l1 AS (SELECT node, lab FROM (
       |  SELECT node, lab, ROW_NUMBER() OVER (
       |    PARTITION BY node ORDER BY cnt DESC, lab ASC) AS rk FROM c1)
       |  WHERE rk = 1),
       |c2 AS (SELECT e.dst AS node, l1.lab, COUNT(*) AS cnt
       |       FROM e JOIN l1 ON l1.node = e.src GROUP BY e.dst, l1.lab),
       |l2 AS (SELECT node, lab FROM (
       |  SELECT node, lab, ROW_NUMBER() OVER (
       |    PARTITION BY node ORDER BY cnt DESC, lab ASC) AS rk FROM c2)
       |  WHERE rk = 1),
       |c3 AS (SELECT e.dst AS node, l2.lab, COUNT(*) AS cnt
       |       FROM e JOIN l2 ON l2.node = e.src GROUP BY e.dst, l2.lab),
       |l3 AS (SELECT node, lab FROM (
       |  SELECT node, lab, ROW_NUMBER() OVER (
       |    PARTITION BY node ORDER BY cnt DESC, lab ASC) AS rk FROM c3)
       |  WHERE rk = 1)""".stripMargin

  /** The zero-filled (type × day) burst grid + integer-moment z tail,
    * shared by q_burst_detect (batch counts) and q_stream_burst (the
    * drained per-day count state) so detector and monitor cannot
    * drift. Input: (event_type, day, cnt) — one row per OCCUPIED
    * cell; absent cells are refilled as zeros here. */
  private[operators] def burstZ(c: DataFrame): DataFrame = {
    val grid = c.select(col("event_type")).distinct()
      .crossJoin(c.select(col("day")).distinct())
    val f = grid.join(c, Seq("event_type", "day"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val m = f.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))
    f.join(m, Seq("event_type"))
      .withColumn("z",
        when(col("nd") * col("s2") - col("s1") * col("s1") > 0L,
          round((col("nd") * col("cnt") - col("s1")).cast("double") /
            sqrt((col("nd") * col("s2") - col("s1") * col("s1"))
              .cast("double")), 9)))
      .select(col("event_type"), col("day"), col("cnt"), col("z"),
        when(col("z") >= 2.0d, lit(true)).otherwise(lit(false))
          .as("is_burst"))
      .orderBy(col("event_type"), col("day"))
  }

  /** DuckDB twin of [[burstZ]]'s moments: e, the per-(event_type, day)
    * counts c, their zero-filled grid f and the integer moments m(nd,
    * s1, s2). */
  private val burstMomentsDuck: String =
    s"""e AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day
       |  FROM events),
       |c AS (
       |  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM e GROUP BY event_type, day),
       |f AS (
       |  SELECT g.event_type, g.day, COALESCE(c.cnt, 0) AS cnt
       |  FROM (SELECT t.event_type, d.day
       |        FROM (SELECT DISTINCT event_type FROM e) t
       |        CROSS JOIN (SELECT DISTINCT day FROM e) d) g
       |  LEFT JOIN c ON g.event_type = c.event_type AND g.day = c.day),
       |m AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
       |    CAST(SUM(cnt) AS BIGINT) AS s1,
       |    CAST(SUM(cnt * cnt) AS BIGINT) AS s2
       |  FROM f GROUP BY event_type)""".stripMargin

  /** The per-type daily event counts through [[burstZ]], each grid
    * day's z cut into the SAX symbols a-d at the Gaussian quartile
    * breakpoints ±0.6745 (a flat series, z NULL, reads as "b"):
    * (event_type, day, cnt, z, is_burst, symbol). Twin of
    * [[saxSymbolsDuck]]. */
  private def saxSymbols(s: SparkSession, d: String): DataFrame =
    burstZ(Tables(s, d, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt")))
      .withColumn("symbol", when(col("z").isNull, lit("b"))
        .when(col("z") < -0.6745d, lit("a"))
        .when(col("z") < 0.0d, lit("b"))
        .when(col("z") < 0.6745d, lit("c"))
        .otherwise(lit("d")))

  /** [[burstMomentsDuck]] with each grid day's z-score cut into the SAX
    * symbols a-d, st(event_type, day, symbol). */
  private val saxSymbolsDuck: String =
    s"""$burstMomentsDuck,
       |st AS (
       |  SELECT event_type, day,
       |    CASE WHEN z IS NULL THEN 'b'
       |         WHEN z < -0.6745 THEN 'a'
       |         WHEN z < 0.0 THEN 'b'
       |         WHEN z < 0.6745 THEN 'c'
       |         ELSE 'd' END AS symbol
       |  FROM (
       |    SELECT f.event_type, f.day,
       |      CASE WHEN nd * s2 - s1 * s1 > 0 THEN
       |        round(CAST(nd * cnt - s1 AS DOUBLE) /
       |          sqrt(CAST(nd * s2 - s1 * s1 AS DOUBLE)), 9) END AS z
       |    FROM f JOIN m USING (event_type)))""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Item-item collaborative filtering (the Amazon item-to-item
    // layout, Linden et al., IEEE IC 2003): top-5 "bought together"
    // recommendations per part from order co-occurrence, scored by
    // cosine over basket incidence c_ij/sqrt(c_i*c_j). Baskets are the
    // 8x-thinned distinct (order, part) pairs the graph queries share;
    // a basket larger than the cap is dropped BEFORE the self-join
    // (the megabasket is q_link_predict's hub-middle problem in basket
    // form: one order with B parts emits B^2 pairs — suppression is
    // the published mitigation, and the cap is an [[itemCf]] parameter
    // so the spec can exercise it where testdata's small orders
    // don't). Pair generation is an order-keyed hash equi-join (work
    // proportional to squared basket sizes, bounded by the cap), the
    // >=2-evidence floor drops noise pairs, scores are round-9 doubles
    // of exact counts, and ranking is a per-item window over each
    // item's candidate list (never a global sort).
    "q_item_cf" -> ((s, d) => itemCf(s, d)),

    // HITS hubs & authorities (Kleinberg, JACM 1999) on the directed
    // customer→supplier trade graph — the link-analysis complement to
    // q_pagerank: authorities are the suppliers good buyers buy from,
    // hubs the customers who buy from good suppliers, the natural
    // bipartite reading of the reference's crawl-quality weighting.
    // Two unrolled mutual-reinforcement rounds; every half-step is one
    // edge-keyed shuffle join + a node-keyed aggregation (the same
    // distributed layout as PR), and the per-round max-normalization
    // divides by a 1-row broadcast maximum. Determinism discipline is
    // q_pagerank's verbatim: ALL iteration arithmetic is fixed-point
    // (scores scaled by 1e9, DECIMAL(38,0) sums so a hub's in-mass
    // has HUGEINT headroom, integer floor division for the normalize)
    // — no ties, no float drift; the single final /1e9 is exact.
    "q_hits" -> ((s, d) => {
      val li = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val edges = graft.Tables.spread(
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
          .distinct(), col("c")).persist()
      val SCALE = 1000000000L
      var hub: DataFrame = edges.select(col("c")).distinct()
        .withColumn("h", lit(SCALE).cast(DecimalType(38, 0)))
      var auth: DataFrame = null
      // the global max each normalize divides by is an unbounded-frame
      // window over the SUM frame (empty partitionBy — one
      // single-partition exchange of the |nodes|-bounded sums; the
      // frame is node-domain-sized, never edge-sized), so each
      // half-step is ONE linear pass (join → sum agg → global-max
      // window → normalize) referencing its input exactly once and cut
      // ONCE. The r15 shape cut the sum frame separately because the
      // normalize read it twice (its own max agg + crossJoin(broadcast
      // (max))): 2 checkpoint jobs + a max-agg job + a broadcast build
      // per half-step where one cut now suffices. Same DECIMAL(38,0)
      // sums, same `div amax` integer normalize — row-identical
      // (STRICT-verified).
      val wAll = Window.partitionBy()
      for (_ <- 1 to 2) {
        // localCheckpoint each half-step: auth/hub have TWO consumers
        // (the next half-step + the final top-k), so each round's
        // frame materializes once — without the cut the plan
        // re-expands per half-step (the exponential-lineage lesson of
        // the other iterative loops; a cluster deployment checkpoints
        // to reliable storage instead).
        auth = edges.join(hub, Seq("c"))
          .groupBy(col("sp"))
          .agg(sum(col("h")).cast(DecimalType(38, 0)).as("ar"))
          .withColumn("amax", max(col("ar")).over(wAll))
          .select(col("sp"),
            expr(s"CAST((ar * $SCALE) div amax AS DECIMAL(38,0))").as("a"))
          .cut()
        hub = edges.join(auth, Seq("sp"))
          .groupBy(col("c"))
          .agg(sum(col("a")).cast(DecimalType(38, 0)).as("hr"))
          .withColumn("hmax", max(col("hr")).over(wAll))
          .select(col("c"),
            expr(s"CAST((hr * $SCALE) div hmax AS DECIMAL(38,0))").as("h"))
          .cut()
      }
      val top = 15
      val authOut = auth
        .select(concat(lit("s"), col("sp")).as("node"),
          lit("authority").as("kind"),
          round(col("a").cast("double") / SCALE.toDouble, 9).as("score"))
        .orderBy(col("score").desc, col("node")).limit(top)
      val hubOut = hub
        .select(concat(lit("c"), col("c")).as("node"),
          lit("hub").as("kind"),
          round(col("h").cast("double") / SCALE.toDouble, 9).as("score"))
        .orderBy(col("score").desc, col("node")).limit(top)
      authOut.unionByName(hubOut)
        .orderBy(col("kind"), col("score").desc, col("node"))
    }),

    // Additive seasonal decomposition x = trend + seasonal + residual
    // over the (type, day, hour-of-day) grid — the classical-
    // decomposition slice of STL (Cleveland et al. 1990): trend is
    // the day's mean level, the seasonal component is each
    // hour-of-day's mean deviation across days, the residual is what
    // monitoring should actually alert on (q_zscore_anomaly's input
    // once seasonality is removed). The corpus collapses to the
    // hourly grid in one pass; every component is a window over grid
    // frames (days, hours-of-day — never the corpus); means divide by
    // plan constants (24, n_days) with round-9 emissions and DECIMAL
    // sums of the rounded deviations, so the decomposition is
    // layout-stable and the three parts re-add to x up to the stated
    // rounding.
    "q_seasonal_decompose" -> ((s, d) => {
      val hourly = Tables(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
        .agg(count(lit(1)).as("x"))
      val wDay = Window.partitionBy(col("event_type"), col("day"))
      val wHod = Window.partitionBy(col("event_type"), col("hod"))
      hourly
        .withColumn("trend",
          round(sum(col("x")).over(wDay).cast("double") /
            count(lit(1)).over(wDay).cast("double"), 9))
        .withColumn("dev",
          round(col("x").cast("double") - col("trend"), 9))
        .withColumn("seasonal",
          round(sum(col("dev").cast(DecimalType(24, 9))).over(wHod)
            .cast("double") /
            count(lit(1)).over(wHod).cast("double"), 9))
        .withColumn("residual",
          round(col("x").cast("double") - col("trend") - col("seasonal"),
            9))
        .select(col("event_type"), col("day"), col("hod"), col("x"),
          col("trend"), col("seasonal"), col("residual"))
        .orderBy(col("event_type"), col("day"), col("hod"))
    }),

    // Frequent event 3-sequences per user stream (the k=3 slice of
    // sequential-pattern mining, Agrawal & Srikant ICDE'95 —
    // contiguous-window variant) — which journeys actually recur,
    // one step deeper than q_event_transitions' bigrams. Triples come
    // from two lags on the shared per-user (ts, event_id) window sort
    // (no self-joins), collapse to the |types|³-bounded pattern grid
    // in one map-combinable count, and the top-20 leaves through a
    // TakeOrdered with a total-order tie-break; support is an exact
    // count ratio.
    "q_seq_patterns" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val triples = Tables(s, d, "events")
        .withColumn("p1", lag(col("event_type"), 1).over(w))
        .withColumn("p2", lag(col("event_type"), 2).over(w))
        .filter(col("p2").isNotNull)
        .groupBy(col("p2"), col("p1"), col("event_type").as("p0"))
        .agg(count(lit(1)).as("n"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      triples
        .withColumn("support",
          round(col("n").cast("double") /
            sum(col("n")).over(wAll).cast("double"), 6))
        .select(concat_ws(">", col("p2"), col("p1"), col("p0"))
          .as("pattern"), col("n"), col("support"))
        .orderBy(col("n").desc, col("pattern")).limit(20)
    }),

    // Degree assortativity (Newman, PRL 2002) of the part
    // co-occurrence graph — do high-degree parts co-occur with other
    // high-degree parts (assortative, r > 0) or with niche ones
    // (disassortative, r < 0)? Completes the graph-structure trio
    // with q_triangles and q_clustering_coeff. The statistic is the
    // Pearson correlation of endpoint degrees over the SYMMETRIZED
    // edge list; symmetry collapses the formula to
    // (n·Σxy − (Σx)²)/(n·Σxx − (Σx)²) with every moment an exact
    // BIGINT sum over edge-keyed joins (degrees are BIGINT counts),
    // and one final round-9 double — no float accumulation anywhere.
    "q_assortativity" -> ((s, d) => {
      val g = partGraph(s, d).persist()
      val deg = g.select(col("u").as("n")).unionAll(g.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("dg"))
      val sym = g.unionAll(g.select(col("v").as("u"), col("u").as("v")))
      val pairs = sym
        .join(deg.select(col("n").as("u"), col("dg").as("du")), Seq("u"))
        .join(deg.select(col("n").as("v"), col("dg").as("dv")), Seq("v"))
      val m = pairs.agg(
        count(lit(1)).as("n"),
        sum(col("du")).as("sx"),
        sum(col("du") * col("dv")).as("sxy"),
        sum(col("du") * col("du")).as("sxx"))
      m.filter(col("n") > 0) // empty graph → empty report, not a NULL row
        .select(col("n").as("n_directed_edges"),
          round((col("n") * col("sxy") - col("sx") * col("sx"))
            .cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
            9).as("assortativity"))
    }),

    // SAX symbolization (Lin et al. 2003) of the per-type daily count
    // series — the discretization that turns time series into text so
    // the TEXT machinery (n-gram motifs, suffix dedup, LSH) applies
    // to telemetry: z-normalize each type's series with the
    // q_burst_detect exact-moment z, then map through the Gaussian
    // quartile breakpoints ±0.6745 (literals in both engines) to a
    // 4-letter alphabet, and assemble the per-type word in day order
    // via an ORDER-PINNED aggregation (array_sort over (day, symbol)
    // structs — never a collect_list ordering assumption). Output is
    // one word per type plus the alphabet usage histogram folded in.
    "q_sax_words" -> ((s, d) => {
      saxSymbols(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          array_join(transform(
            array_sort(collect_list(struct(col("day"), col("symbol")))),
            x => x.getField("symbol")), "").as("sax_word"),
          sum(when(col("symbol") === "a", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("symbol") === "b", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("symbol") === "c", 1L).otherwise(0L)).as("n_c"),
          sum(when(col("symbol") === "d", 1L).otherwise(0L)).as("n_d"))
        .orderBy(col("event_type"))
    }),

    // SAX motif mining — the payoff of q_sax_words' text encoding:
    // repeated length-4 SAX subwords across the per-type daily
    // series are recurring temporal shapes (the Lin et al. motif
    // primitive; on telemetry, a motif shared by many types is a
    // platform-wide rhythm, one repeating within a type is that
    // type's signature). Same (type, day, symbol) frame through the
    // shared burstZ kernel and breakpoint literals; subwords come
    // from three lead() steps over the per-type day order (grid-sized
    // windows: types × days), counts are map-combinable aggs, and the
    // motif domain is ≤ 4⁴ rows — nothing scales past the grid.
    "q_sax_motifs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      saxSymbols(s, d)
        .withColumn("motif", concat(col("symbol"),
          lead(col("symbol"), 1).over(w), lead(col("symbol"), 2).over(w),
          lead(col("symbol"), 3).over(w)))
        .filter(col("motif").isNotNull && length(col("motif")) === 4)
        .groupBy(col("motif"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("event_type")).as("n_types"))
        .filter(col("n_occ") >= 2L)
        .orderBy(col("n_occ").desc, col("motif"))
    }),

    // Median/MAD robust anomaly audit (Hampel's 3·1.4826·MAD rule) —
    // the heavy-tail-proof complement to q_zscore_anomaly's rolling
    // z: mean/stddev move with the outliers they're hunting, the
    // median and MAD don't (50% breakdown). Both medians come from
    // the exact cents-value grid per type — cumulative window over a
    // DOMAIN-bounded frame (≤ distinct cent values, whatever the
    // corpus size), lower-median by the 2·cum ≥ n threshold, never a
    // corpus sort. The flag itself is pure INTEGER arithmetic:
    // |x−med|·10⁴ > 44478·MAD encodes 3·1.4826 exactly, so no float
    // ever decides an anomaly. Per-type medians ride as 5-row
    // broadcasts; output is the per-type summary a monitor pages on.
    "q_mad_anomaly" -> ((s, d) => {
      val cents = (col("value").cast(DecimalType(12, 2)) * 100)
        .cast("long")
      val ev = Tables(s, d, "events")
        .select(col("event_type"), cents.as("c"))
      def medOf(df: DataFrame, v: String, out: String): DataFrame = {
        val g = df.groupBy(col("event_type"), col(v))
          .agg(count(lit(1)).as("k"))
        val wC = Window.partitionBy(col("event_type")).orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wT = Window.partitionBy(col("event_type"))
        g.withColumn("cum", sum(col("k")).over(wC))
          .withColumn("n", sum(col("k")).over(wT))
          .groupBy(col("event_type"))
          .agg(min(when(col("cum") * 2 >= col("n"), col(v))).as(out))
      }
      val med = medOf(ev, "c", "med")
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("dv", abs(col("c") - col("med")))
      val mad = medOf(dev, "dv", "mad")
      dev.join(broadcast(mad), Seq("event_type"))
        .withColumn("anom",
          col("dv") * 10000L > col("mad") * 44478L)
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("anom"), 1L).otherwise(0L)).as("n_anom"))
        .select(col("event_type"), col("n"),
          col("med").as("median_cents"), col("mad").as("mad_cents"),
          col("n_anom"),
          round(col("n_anom").cast("double") / col("n"), 9)
            .as("anom_rate"))
        .orderBy(col("event_type"))
    }),

    // Lagged CROSS-correlation between the daily click and purchase
    // count series — the lead-lag diagnostic next to q_acf's
    // self-correlation: does click volume predict purchase volume k
    // days out (the attribution-window sizing read)? Same grid
    // discipline as q_acf: the corpus collapses to the per-day
    // two-series grid in ONE pass (conditional sums, absent days are
    // absent for both series so no fill bias), lagged pairs come from
    // a grid self equi-join on day+lag with the 7 lags a constant
    // explode, and Pearson r per lag is exact BIGINT moments into a
    // single round-9 division — sqrt of the PRODUCT of the two
    // variance numerators keeps it one sqrt. |r|-argmax rides along
    // as best_lag (ties to the smallest lag).
    "q_cross_corr" -> ((s, d) => {
      val cd = Tables(s, d, "events")
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          col("event_type"))
        .groupBy(col("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val lags = s.range(-3, 4).select(col("id").as("lag"))
      val pairs = cd.select(col("day"), col("x"))
        .crossJoin(broadcast(lags))
        .join(cd.select(col("day").as("yday"), col("y")),
          col("day") + col("lag") === col("yday"))
      val m = pairs.groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val num = m.col("n_pairs") * col("sxy") - col("sx") * col("sy")
      val vx = col("n_pairs") * col("sxx") - col("sx") * col("sx")
      val vy = col("n_pairs") * col("syy") - col("sy") * col("sy")
      m.withColumn("r",
          when(vx > 0L && vy > 0L,
            round(num.cast("double") /
              sqrt((vx * vy).cast("double")), 9)))
        // coalesce the rank key: engines disagree on NULL placement
        // under DESC (Spark last, DuckDB first) — a degenerate lag
        // must rank behind every real correlation in both
        .withColumn("rk1", row_number().over(
          Window.orderBy(coalesce(abs(col("r")), lit(-1.0d)).desc,
            col("lag"))))
        .withColumn("best_lag", max(when(col("rk1") === 1, col("lag")))
          .over(Window.orderBy(lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("lag"), col("n_pairs"), col("r"), col("best_lag"))
        .orderBy(col("lag"))
    }),

    // Autocorrelation function of the hourly event-count series, per
    // event type at lags 1..24 — the seasonality diagnostic that
    // decides q_forecast_eval's h−24 shift (a daily cycle shows as an
    // ACF peak at 24; white noise sits at 0). The corpus collapses to
    // the (type, hour) grid in one pass; lagged pairs come from a grid
    // self EQUI-join on hour+k (the forecast-eval rationale: a window
    // lag would slide across missing hours), with the 24 lags a
    // constant explode on the probe side. Deviations are exact
    // integers in count×n_hours units (the q_cusum device — no mean
    // division), so numerator and variance are exact BIGINT sums and
    // ACF is one round-9 ratio.
    "q_acf" -> ((s, d) => {
      val hourly = Tables(s, d, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("x"))
      val wt = Window.partitionBy(col("event_type"))
      val devs = hourly
        .withColumn("tx", sum(col("x")).over(wt))
        .withColumn("nh", count(lit(1)).over(wt))
        .withColumn("dev", col("x") * col("nh") - col("tx"))
        .select(col("event_type"), col("hr"), col("dev"))
      // dev ≈ x·n_hours, so Σdev² needs DECIMAL(38,0) headroom past
      // ~1e5 grid hours (LongType wraps silently in Spark)
      val denom = devs.groupBy(col("event_type"))
        .agg(sum((col("dev") * col("dev")).cast(DecimalType(38, 0)))
          .as("num0"))
      val probes = devs
        .withColumn("lag", explode(sequence(lit(1L), lit(24L))))
        .select(col("event_type"), (col("hr") + col("lag")).as("hr"),
          col("lag"), col("dev").as("dev0"))
      probes.join(devs, Seq("event_type", "hr"))
        .groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("dev0") * col("dev")).cast(DecimalType(38, 0)))
            .as("numk"))
        .join(denom, Seq("event_type"))
        .select(col("event_type"), col("lag"), col("n_pairs"),
          round(col("numk").cast("double") / col("num0").cast("double"), 9)
            .as("acf"))
        .orderBy(col("event_type"), col("lag"))
    }),

    // Item-CF holdout evaluation — q_item_cf's quality gate (the
    // q_ann_recall pattern applied to recommendations): train the
    // same capped cosine top-5 on one disjoint order slice, then
    // count how many recommended pairs are CONFIRMED by co-occurrence
    // in a held-out slice. Precision of association recs against
    // future baskets is the offline metric item-to-item deployments
    // actually gate on. The synthetic baskets choose parts
    // independently — no preference structure crosses slices and the
    // raw metric reads precision 0 (r7 finding). So the eval PLANTS a
    // deterministic preference: every basket also carries each item's
    // "brand anchor" (pk floored to its decade), a structure present
    // in BOTH slices by construction — anchors co-occur with their
    // items in training (high-cosine recs) and reappear in the
    // holdout (confirmations), while the independent noise pairs
    // stay unconfirmed: precision lands strictly inside (0, 1). The
    // augmentation is a pure function of the stored keys, restated
    // verbatim in the oracle. Same join shapes as the trained
    // operator; the holdout check is one pair-keyed left join;
    // output is the eval-summary grid (one row).
    "q_cf_holdout" -> ((s, d) => {
      val cap = CF_ORDER_CAP
      def baskets(residue: Int): DataFrame = {
        val raw = Tables(s, d, "lineitem")
          .filter(col("l_orderkey") % 16 === residue)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        raw.unionByName(
          raw.select(col("ok"), (col("pk") - col("pk") % 10).as("pk")))
          .distinct()
      }
      val recs = cfTop5(baskets(0), cap).select(col("item"), col("rec"))
      // the holdout side takes the SAME megabasket cap before its pair
      // self-join — one hot basket in the test slice would otherwise
      // emit exactly the B² pairs the cap exists to suppress
      val test = capBaskets(baskets(8), cap)
      val testPairs = test.as("a")
        .join(test.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("item"), col("b.pk").as("rec"))
        .distinct()
        .withColumn("hit", lit(1L))
      recs.join(testPairs, Seq("item", "rec"), "left_outer")
        .agg(countDistinct(col("item")).as("n_items"),
          count(lit(1)).as("n_recs"),
          coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
        .select(col("n_items"), col("n_recs"), col("n_hits"),
          round(col("n_hits").cast("double") /
            nullif(col("n_recs"), lit(0L)).cast("double"), 6)
            .as("precision"))
    }),

    // First-order Markov next-event predictor with a temporal holdout
    // backtest — the sequence sibling of q_forecast_eval: train the
    // argmax transition table on the first time half, score hit-rate
    // on the second, against the majority-class baseline (a predictor
    // that can't beat majority is noise — the go/no-go every
    // sequence-model deployment runs first). Transition pairs come
    // from the shared per-user (ts, event_id) window; the model is
    // the transition GRID argmax'd via a (count desc, next) total
    // order; evaluation is one broadcast join of the ≤|types|-row
    // model onto test pairs; accuracies are round-6 ratios of exact
    // counts.
    "q_markov_eval" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
      val rng = pairs.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      // two consumers (training grid + evaluation) — persist, or the
      // events scan and per-user window sort run twice (the q_hits
      // two-consumer lesson; harness housekeeping clears the cache)
      val halved = pairs.crossJoin(broadcast(rng))
        .withColumn("is_train", col("us") * 2 <= col("lo") + col("hi"))
        .persist()
      val grid = halved.filter(col("is_train"))
        .groupBy(col("prev"), col("event_type").as("nxt"))
        .agg(count(lit(1)).as("c"))
      val wArg = Window.partitionBy(col("prev"))
        .orderBy(col("c").desc, col("nxt"))
      val model = grid.withColumn("rk", row_number().over(wArg))
        .filter(col("rk") === 1).select(col("prev"), col("nxt").as("pred"))
      val wMaj = Window.orderBy(col("c").desc, col("nxt"))
      val majority = grid.groupBy(col("nxt")).agg(sum(col("c")).as("c"))
        .withColumn("rk", row_number().over(wMaj))
        .filter(col("rk") === 1).select(col("nxt").as("base_pred"))
      halved.filter(!col("is_train"))
        .join(broadcast(model), Seq("prev"), "left_outer")
        .crossJoin(broadcast(majority))
        .groupBy(col("prev"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("event_type") === col("pred"), 1L).otherwise(0L))
            .as("n_hits"),
          sum(when(col("event_type") === col("base_pred"), 1L)
            .otherwise(0L)).as("n_base_hits"))
        .select(col("prev"), col("n_test"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_test").cast("double"),
            6).as("accuracy"),
          round(col("n_base_hits").cast("double") /
            col("n_test").cast("double"), 6).as("baseline_accuracy"))
        .orderBy(col("prev"))
    }),

    // Local clustering coefficient (Watts & Strogatz, Nature 1998):
    // 2·T(v)/(deg(v)·(deg(v)−1)) per node of the part co-occurrence
    // graph — how clique-like each part's neighborhood is, the
    // community-structure diagnostic next to q_triangles' raw counts.
    // Composes the degree-ordered oriented triangle machinery
    // (trianglesPerNode — O(m^1.5) regardless of hubs) with the degree
    // frame through one node-keyed left join (triangle-free nodes
    // coefficient 0, never dropped); the ratio is one round-9 double
    // over exact BIGINT counts. deg ≥ 2 is the definition's domain.
    "q_clustering_coeff" -> ((s, d) => {
      val g = partGraph(s, d).persist()
      val deg = g.select(col("u").as("node"))
        .unionAll(g.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      deg.filter(col("deg") >= 2)
        .join(trianglesPerNode(g), Seq("node"), "left_outer")
        .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
        .withColumn("coeff", round(lit(2.0) * col("n_tri").cast("double") /
          (col("deg") * (col("deg") - 1L)).cast("double"), 9))
        .select(col("node").as("part"), col("deg"), col("n_tri"),
          col("coeff"))
        .orderBy(col("coeff").desc, col("part")).limit(20)
    }),

    // Gini coefficient per market segment (Gini 1912, in the exact
    // rank form Σ(2i−n−1)·x_i / (n·Σx)) — the concentration metric a
    // curation pipeline runs on source/account mass ("is 1% of
    // accounts 90% of the money"), sibling of q_skyline's preference
    // lens. Ranks are a row_number window over (value, key) — a TOTAL
    // order, so both engines rank identically — and the numerator and
    // denominator stay exact BIGINT cents until the one final
    // division (at 100 TB the sums ride DECIMAL(38) headroom; the
    // per-segment sort is each segment's own window partition, never
    // a global sort). Non-positive balances are excluded — Gini is
    // defined on positive mass — with the exclusion counted.
    "q_gini" -> ((s, d) => {
      val cents = (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
        .cast("long")
      val base = Tables(s, d, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_custkey").as("k"),
          cents.as("cents"))
      val pos = base.filter(col("cents") > 0)
      val w = Window.partitionBy(col("seg"))
        .orderBy(col("cents"), col("k"))
      val ws = Window.partitionBy(col("seg"))
      pos
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(ws))
        .withColumn("term", (lit(2L) * col("i") - col("n") - 1L) * col("cents"))
        // numerator/mass in DECIMAL(38,0) (a LongType Σ(2i−n−1)·cents
        // wraps around n·max_cents ≈ 5e6 rows per segment — silently
        // in Spark, loudly in DuckDB) and the n·mass denominator in
        // double — the headroom the scaladoc promises
        .groupBy(col("seg"))
        .agg(max(col("n")).as("n_pos"),
          sum(col("term").cast(DecimalType(38, 0))).as("num"),
          sum(col("cents").cast(DecimalType(38, 0))).as("mass"))
        .join(base.groupBy(col("seg"))
          .agg(count(lit(1)).as("n_all")), Seq("seg"))
        .select(col("seg"), col("n_all"), col("n_pos"),
          round(col("num").cast("double") /
            (col("n_pos").cast("double") * col("mass").cast("double")), 9)
            .as("gini"))
        .orderBy(col("seg"))
    }),

    // Spearman rank correlation between order value and the ordering
    // customer's account balance, per market segment — the monotone-
    // association check (is bigger-balance money placing bigger
    // orders) that Pearson r (q_regression) misses under nonlinear
    // but monotone relationships. The deterministic variant: ranks
    // are row_number over (value, orderkey) — a total order, so no
    // averaged tie ranks and both engines agree exactly — making
    // ρ = 1 − 6Σd²/(n(n²−1)) a pure function of exact BIGINT rank
    // differences. One dim join (customer broadcast-sized), two
    // windows inside segment partitions, one grid aggregation.
    "q_spearman" -> ((s, d) => {
      val o = Tables(s, d, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast("long")
          .as("x"))
      val c = Tables(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment").as("seg"),
        (col("c_acctbal").cast(DecimalType(12, 2)) * 100).cast("long")
          .as("y"))
      val wx = Window.partitionBy(col("seg")).orderBy(col("x"), col("k"))
      val wy = Window.partitionBy(col("seg")).orderBy(col("y"), col("k"))
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .withColumn("rx", row_number().over(wx).cast("long"))
        .withColumn("ry", row_number().over(wy).cast("long"))
        .withColumn("d2",
          (col("rx") - col("ry")) * (col("rx") - col("ry")))
        .groupBy(col("seg"))
        // Σd² in DECIMAL(38,0) and the n(n²−1) denominator in double:
        // a LongType n³ wraps at per-segment n ≥ 2^21 (Spark silently,
        // DuckDB loudly — divergence either way at TPC-H sf ~7)
        .agg(count(lit(1)).as("n"),
          sum(col("d2").cast(DecimalType(38, 0))).as("sd2"))
        .select(col("seg"), col("n"),
          round(lit(1.0) - lit(6.0) * col("sd2").cast("double") /
            (col("n").cast("double") *
              (col("n").cast("double") * col("n").cast("double") - 1.0)),
            9).as("spearman_rho"))
        .orderBy(col("seg"))
    }),

    // lag/delta + bounded moving sum per user over event time.
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wFrame = w.rowsBetween(-2, 0)
      Tables(s, d, "events")
        .withColumn("prev", lag(dec(col("value")), 1).over(w))
        .select(
          col("event_id"), col("user_id"),
          (dec(col("value")) - coalesce(col("prev"), dec(lit(0))))
            .cast("double").as("delta"),
          sum(dec(col("value"))).over(wFrame).cast("double").as("moving_sum3"))
        .orderBy(col("event_id"))
    }),

    // Gap-based sessionization: new session when >30 min since the
    // previous event; session id = running count of session starts.
    "q_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val newSession = when(
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1)
          .over(w) > 30L * 60 * 1000000, 1L)
        .otherwise(when(lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L))
      Tables(s, d, "events")
        .withColumn("new_s", newSession)
        .withColumn("session_id",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ROLLUP hierarchy: revenue by region → nation → grand total.
    "q_rollup" -> ((s, d) => {
      val li = Tables(s, d, "lineitem"); val o = Tables(s, d, "orders")
      val c = Tables(s, d, "customer"); val n = Tables(s, d, "nation")
      val r = Tables(s, d, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        // customer scales with SF — unhinted (AQE decides); nation and
        // region are true fixed dims and keep their hints
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    // Ranking-window surface beyond row_number/lag: dense_rank,
    // percent_rank, cume_dist, ntile — one shuffle on the partition
    // key; rank ratios divide exact integers so both engines agree.
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .withColumn("drk", dense_rank().over(w).cast("long"))
        .withColumn("prk", round(percent_rank().over(w), 9))
        .withColumn("cd", round(cume_dist().over(w), 9))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .orderBy(col("event_id"))
    }),

    // Explicit GROUPING SETS (the general lattice rollup/cube are
    // special cases of): (type,bucket), (type), () — with a grouping_id
    // so total rows are distinguishable from NULL group keys.
    "q_grouping_sets" -> ((s, d) => {
      Tables(s, d, "events")
        .withColumn("ubucket", col("user_id") % 10)
        .groupingSets(
          Seq(Seq(col("event_type"), col("ubucket")),
            Seq(col("event_type")), Seq()),
          col("event_type"), col("ubucket"))
        .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("total"))
        .orderBy(col("gid"), col("event_type").asc_nulls_first,
          col("ubucket").asc_nulls_first)
    }),

    // Time-series gap filling: the dense hourly grid per event_type
    // (missing hours = 0 rows in storage, explicit zeros for
    // consumers). Grid bounds are a 1-row exact-integer broadcast; the
    // grid itself is |types| × |hours| rows generated EXECUTOR-side by
    // an explode (never a driver loop), left-joined with the hourly
    // counts on a uniform composite key. DATA CONTRACT: bounds come
    // from the raw global min/max hour, so ONE corrupt epoch-0 (or
    // far-future) timestamp inflates the grid to the whole span —
    // sequence() throws past 2^31 elements (a loud failure, not silent
    // wrong data); a deployment ingesting unvalidated timestamps
    // should clamp lo/hi to the expected retention window first.
    "q_gap_fill" -> ((s, d) => {
      val e = Tables(s, d, "events")
        .select(col("event_type"),
          // integer div, not floor(double /): epoch µs exceed 2^53 at
          // double precision soon enough that the quotient could round
          // across the hour boundary
          (expr("unix_micros(ts) div 3600000000") * 3600000000L)
            .as("hour_us"), col("value"))
      val bounds = e.agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
      val grid = e.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), lit(3600000000L))).as("hour_us"))
      val agg = e.groupBy(col("event_type"), col("hour_us"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total"))
      grid.join(agg, Seq("event_type", "hour_us"), "left_outer")
        .select(col("event_type"), col("hour_us"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("total"), lit(0.0d)).as("total"))
        .orderBy(col("event_type"), col("hour_us"))
    }),

    // Cohort retention: users bucketed by first-activity week (the
    // cohort), counted by distinct activity in each later week — the
    // canonical product-analytics matrix. The cohort assignment is one
    // user_id-keyed min-aggregation joined back (uniform key), then a
    // (cohort, week) count-distinct; week ids divide exact integers.
    "q_cohort_retention" -> ((s, d) => {
      val e = Tables(s, d, "events")
        .select(col("user_id"),
          (expr("unix_micros(ts) div 604800000000")).as("week"))
      val cohorts = e.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      e.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    }),

    // Conversion funnel: view → click → purchase, strictly ordered per
    // user (each step's first occurrence must be after the previous
    // step's). Three user_id-keyed min-aggregations chained by join —
    // every shuffle is on the same uniform user_id key, so at cluster
    // scale the three stages reuse one hash partitioning and no step
    // ever materializes more than one row per user. sum_us is an exact
    // integer checksum over the step timestamps (order-independent).
    "q_funnel" -> ((s, d) => {
      val e = Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, Seq("user_id")).filter(col("us") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id")).filter(col("us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      // Checksum as a hi/lo BIGINT pair: the step-timestamp sum is
      // accumulated in DECIMAL(38,0) (a Long sum of epoch-us wraps at
      // ~5k users; decimal matches DuckDB's HUGEINT headroom), then
      // split into sum div 1e12 / sum mod 1e12 — both < 2^53 up to
      // ~5e12 funnel users (a 1e9 divisor capped hi at ~5e9 users,
      // a silent data-volume ceiling), so the driver's dtype-sensitive
      // hash (which canonicalizes big decimals through float64) sees
      // exact integers on both engines. All timestamps are positive,
      // so div/mod semantics agree.
      def tier(df: DataFrame, step: Int, nm: String, t: String): DataFrame =
        df.agg(count(lit(1)).as("n_users"),
            sum(col(t).cast(DecimalType(38, 0))).as("s"))
          .select(lit(step.toLong).as("step"), lit(nm).as("step_name"),
            col("n_users"),
            expr("s div 1000000000000").as("sum_us_hi"),
            expr("CAST(s % 1000000000000 AS BIGINT)").as("sum_us_lo"))
      tier(s1, 1, "view", "t1")
        .unionByName(tier(s2, 2, "click", "t2"))
        .unionByName(tier(s3, 3, "purchase", "t3"))
        .orderBy(col("step"))
    }),

    // PageRank, two unrolled power iterations over the symmetric
    // customer↔supplier trade graph (the link-analysis primitive behind
    // crawl/URL-quality weighting). Every iteration is one edge-keyed
    // shuffle join + one node-keyed aggregation — the standard
    // distributed PR layout; nothing ever visits the driver and the
    // iteration count is a plan constant (unrolled, no driver loop).
    // Determinism discipline: ALL iteration arithmetic is fixed-point
    // BIGINT (pr scaled by 1e9; contributions are integer floor
    // divisions p div od; damping is 150000000 + (85·S) div 100) — a
    // double formulation with per-step rounding is order-independent
    // but TIE-prone (pr/od can land exactly on a half at the rounding
    // scale, and the two engines resolve such ties differently; this
    // bit a 9-decimal variant at sf0.1 with a 2e-9 drift). Integers
    // have no ties; the single final divide by 1e9 is exact-input
    // correctly-rounded and identical in both engines.
    "q_pagerank" -> ((s, d) => {
      // Node ids are packed LONGS through every shuffle — customer
      // 2k, supplier 2k+1 — and only the 30 output rows materialize
      // the 'c…'/'s…' strings the oracle names nodes by: hashing,
      // sorting and exchanging 8-byte keys beats variable-length
      // strings on each of the ~6 shuffles below (measured ~1.3× on
      // the whole query at sf0.1).
      val e0 = tradePairs(s, d)
      val edges = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      // The graph is static across iterations; without materialization
      // every round's lineage replays the lineitem scan + distinct +
      // degree agg (and round 2 replays round 1's whole subtree). At
      // cluster scale these two frames are the checkpointed adjacency
      // lists every Pregel-style engine keeps resident. The harness
      // clears the cache between queries.
      val edgesDeg = graft.Tables.spread(
        edges.join(deg, Seq("src")), col("src")).persist()
      val nodes = edgesDeg.select(col("src").as("node")).distinct().persist()
      var pr: DataFrame = nodes.withColumn("p", lit(1000000000L))
      for (_ <- 1 to 2) {
        val contrib = edgesDeg
          .join(pr.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), expr("p div od").as("c"))
          // DECIMAL(38,0) sum: a hub whose in-neighbor mass exceeds
          // ~1e17 (≈1e8 nodes' worth) would wrap 85·s in Long; decimal
          // matches DuckDB's HUGEINT sum headroom exactly.
          .groupBy(col("node"))
          .agg(sum(col("c").cast(DecimalType(38, 0))).as("s"))
        pr = nodes.join(contrib, Seq("node"), "left_outer")
          .select(col("node"), expr(
            "150000000 + (85 * coalesce(s, CAST(0 AS DECIMAL(38,0)))) div 100")
            .cast("long").as("p"))
      }
      pr.select(
          when(col("node") % 2 === 0, concat(lit("c"), expr("node div 2")))
            .otherwise(concat(lit("s"), expr("node div 2")))
            .as("node"),
          round(col("p").cast("double") / 1000000000.0d, 9).as("pr"))
        .orderBy(col("pr").desc, col("node")).limit(30)
    }),

    // Label-propagation community detection (Raghavan, Albert & Kumara,
    // Phys. Rev. E 2007), three SYNCHRONOUS rounds unrolled over the
    // same customer↔supplier trade graph as q_pagerank: every node
    // adopts the most frequent label among its neighbors, ties to the
    // SMALLEST label — the deterministic variant of the usual
    // random-tie LPA (a fixed round count + a total tie order is what
    // makes the operator oracle-comparable; asynchronous/random LPA is
    // not an operator, it's a dice roll). Each round is ONE edge-keyed
    // shuffle join + one (node, label)-keyed count + one node-keyed
    // argmax — the Pregel message layout, nothing driver-side, round
    // count a plan constant. The argmax is max(struct(cnt, -label)):
    // packed-long keys (q_pagerank rationale) make the tie order a
    // plain integer order on 8-byte shuffle keys. Output is the
    // community roll-up a curator reads: size + member mix of the top
    // communities.
    "q_label_propagation" -> ((s, d) => {
      val lab = lpaLabels(tradeEdges(s, d))
      lab.groupBy(col("lab"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_customers"),
          sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"))
        .select(
          when(col("lab") % 2 === 0, concat(lit("c"), expr("lab div 2")))
            .otherwise(concat(lit("s"), expr("lab div 2"))).as("community"),
          col("n_nodes"), col("n_customers"), col("n_suppliers"))
        .orderBy(col("n_nodes").desc, col("community")).limit(25)
    }),

    // Newman modularity scoring (Newman & Girvan, Phys. Rev. E 2004)
    // of the LPA partition — the quality number a curator reads before
    // trusting a community structure: Q = Σ_c [ e_c/2m − (d_c/2m)² ]
    // where e_c counts intra-community directed edges and d_c sums
    // member degrees. Shares tradeEdges/lpaLabels with
    // q_label_propagation, so the scored partition IS the gated one.
    // Plan shape: two label equi-joins onto the persisted edge frame
    // (node-keyed shuffles; labels come pre-pinned by lpaLabels'
    // localCheckpoint), one per-community count/sum agg, one
    // single-row total cross-joined back (broadcast — never a
    // shuffle). An A/B'd alternative — compact (dst, slab) counts
    // between the two label lookups — benched consistently SLOWER at
    // sf0.1 (~6.5 s vs ~5.5 s): the extra edge-sized aggregation
    // costs more than the cheaper dst-side join saves, so the direct
    // two-join shape stays. Every term is exact integer arithmetic
    // until the final division; the division operands are identical
    // BIGINTs in both engines, so the rounded double is bit-stable
    // across Spark and DuckDB.
    "q_modularity" -> ((s, d) => {
      val edges = tradeEdges(s, d)
      // lpaLabels' final localCheckpoint already pins the label frame;
      // no extra persist needed for the two endpoint joins below.
      val lab = lpaLabels(edges)
      val el = edges
        .join(lab.select(col("node").as("src"), col("lab").as("slab")), Seq("src"))
        .join(lab.select(col("node").as("dst"), col("lab").as("dlab")), Seq("dst"))
      val perC = el.groupBy(col("slab").as("lab"))
        .agg(count(lit(1)).as("deg_sum"),
          sum(when(col("slab") === col("dlab"), 1L).otherwise(0L))
            .as("intra_dir"))
      val nNodes = lab.groupBy(col("lab")).agg(count(lit(1)).as("n_nodes"))
      val tot = perC.agg(sum(col("deg_sum")).as("m2"))
      perC.join(nNodes, Seq("lab"))
        .crossJoin(broadcast(tot))
        .select(
          when(col("lab") % 2 === 0, concat(lit("c"), expr("lab div 2")))
            .otherwise(concat(lit("s"), expr("lab div 2"))).as("community"),
          col("n_nodes"), col("intra_dir"), col("deg_sum"),
          round(col("intra_dir").cast("double") / col("m2") -
            (col("deg_sum").cast("double") / col("m2")) *
            (col("deg_sum").cast("double") / col("m2")), 9).as("q_contrib"))
        .orderBy(col("n_nodes").desc, col("community")).limit(20)
    }),

    // Exact triangle counting by degree-ordered edge orientation
    // (node-iterator++ / the MapReduce layout of Suri & Vassilvitskii,
    // "Counting Triangles and the Curse of the Last Reducer", WWW'11):
    // each undirected edge is oriented from its lower- to its
    // higher-degree endpoint (ties by node id — a total order), wedges
    // are enumerated only at each edge's LOW end, and a wedge closes
    // iff the oriented edge between its two high ends exists. The
    // orientation bounds every node's out-degree by O(sqrt(2m)), so
    // wedge fan-out — the thing that kills naive triangle counting on
    // a hub — is O(m^1.5) total regardless of the degree distribution:
    // the curse-of-the-last-reducer hub becomes ordinary uniform work.
    // All three joins are hash equi-joins on node keys (wedge join on
    // s, closing join on (s,t)); nothing is quadratic in a hub degree.
    // Graph: part co-occurrence within an order (parts bought
    // together), orders thinned 8× by the deterministic dev-mode
    // sampling shape (A/ST9) restated in the oracle. Order keys pack
    // (degree, id) into one BIGINT — 8-byte shuffle keys, the
    // q_pagerank rationale; the 1e12 pack requires deg < 9.2e6 and
    // id < 1e12, and under ANSI mode an overflow beyond that headroom
    // fails loudly rather than mis-orienting.
    "q_triangles" -> ((s, d) => {
      trianglesPerNode(partGraph(s, d)).withColumnRenamed("node", "part")
        .orderBy(col("n_tri").desc, col("part")).limit(10)
    }),

    // Frequent-pair association mining (the A-Priori candidate step of
    // Agrawal & Srikant, VLDB'94, for itemsets of size 2): parts
    // bought together with support ≥ 2 orders, scored by lift =
    // P(a,b) / (P(a)·P(b)). The per-basket pair explosion is bounded
    // by basket_size² — TPC-H caps baskets at 7 lineitems, and a real
    // pipeline caps or samples pathological baskets the same way
    // (unbounded baskets, not item count, are what kill this join at
    // scale); everything after is hash-keyed aggregation with
    // map-side partials. Determinism: supports are exact BIGINTs and
    // lift is ONE correctly-rounded IEEE division of exact integer
    // products — bit-identical in both engines (the q_pagerank
    // fixed-point lesson: a single final division is safe, per-step
    // rounding is not).
    "q_assoc_rules" -> ((s, d) => {
      val li = graft.Tables.spread(Tables(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct(), col("ok")).persist()
      val nOrders = li.agg(countDistinct(col("ok")).as("n_orders"))
      val itemSupp = li.groupBy(col("pk")).agg(count(lit(1)).as("supp"))
      val pairSupp = li.as("a")
        .join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("supp_ab"))
        .filter(col("supp_ab") >= 2)
      pairSupp
        .join(itemSupp.select(col("pk").as("u"), col("supp").as("supp_a")),
          Seq("u"))
        .join(itemSupp.select(col("pk").as("v"), col("supp").as("supp_b")),
          Seq("v"))
        .crossJoin(broadcast(nOrders))
        .select(col("u"), col("v"), col("supp_ab"), col("supp_a"),
          col("supp_b"),
          ((col("supp_ab") * col("n_orders")).cast("double") /
            (col("supp_a") * col("supp_b")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("u"), col("v")).limit(15)
    }),

    // Rolling 7-day distinct active users per day (trailing-window
    // DAU/WAU): count-distinct cannot slide incrementally, so each
    // event is replicated to the ≤7 day-keys whose trailing window it
    // falls in (bounded ×7 map-side fan-out — the standard exact
    // formulation; a sketch replaces it when approximation is
    // acceptable) and each day is one uniform count-distinct group.
    // Days come from the data itself (distinct event days), so the
    // output only has days that exist.
    "q_rolling_dau" -> ((s, d) => {
      val e = Tables(s, d, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val contrib = e.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("win_day"))
      val days = e.select(col("day").as("win_day")).distinct()
      contrib.join(days, Seq("win_day"))
        .groupBy(col("win_day"))
        .agg(countDistinct(col("user_id")).as("active_users_7d"))
        .orderBy(col("win_day"))
    }),

    // Temporal burst detection (the z-score reduction of Kleinberg
    // 2002's burst states) — which (event_type, day) cells spike
    // against that type's own daily baseline? The corpus collapses to
    // the (types × days) grid FIRST — one shuffle, grid-sized
    // thereafter — and missing cells are explicit zeros (a type that
    // skips a day must drag its mean down, not vanish from it): the
    // grid is types·days rows at any corpus size. The z-score uses
    // the common-denominator integer form z = (nd·c − Σc) /
    // √(nd·Σc² − (Σc)²) — exact BIGINT moments, ONE sqrt, round-9 —
    // so Σz per type is exactly 0 pre-round (the spec's invariant).
    // Constant series (variance 0) yield NULL z, not a division blow.
    "q_burst_detect" -> ((s, d) => {
      burstZ(Tables(s, d, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt")))
    }),

    // Event-transition matrix (first-order Markov counts): for each
    // user's ts-ordered event stream, count event_type → next
    // event_type transitions — the sequence-analytics primitive under
    // path analysis / next-action models. One user-keyed window pass
    // (lead), one uniform (from, to) aggregation; ties on ts broken by
    // event_id so the sequence — and the oracle — is total-ordered.
    "q_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("next_type"))
    }),

    // Exact order statistics + variance from exact decimal sums (no
    // order-dependent floating aggregation anywhere).
    "q_stats_exact" -> ((s, d) => {
      val v = dec(col("value"))
      val sq = (col("value") * col("value")).cast(DecimalType(20, 4))
      Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          min(col("value")).as("vmin"),
          max(col("value")).as("vmax"),
          sum(v).cast("double").as("vsum"),
          (sum(v).cast("double") / count(lit(1))).as("vavg"),
          // n=1 guard: under ANSI mode (Spark 4 default) the divide by
          // (n-1)=0 THROWS; the oracle's NULLIF yields NULL — both
          // sides now emit NULL variance for singleton groups
          when(count(lit(1)) > 1,
            (sum(sq).cast("double") -
              sum(v).cast("double") * sum(v).cast("double") / count(lit(1))) /
              (count(lit(1)) - 1)).as("vvar"),
          // NOTE exact percentile buffers each group's values in one
          // task (fine for the bounded event_type groups here); at a
          // value cardinality that grows with the corpus, swap in
          // approx_percentile — the same sketch trade q_count_distinct
          // documents for approx_count_distinct
          expr("percentile(value, 0.5)").as("vmedian"))
        .orderBy(col("event_type"))
    }),

    // Z-score anomaly detection: events more than 3σ from their
    // type's mean — the monitoring/data-quality primitive. Moments
    // come from the same exact-DECIMAL sums as q_stats_exact (so mean
    // and σ are partitioning-invariant doubles), broadcast as a
    // types-sized dim; scoring is a narrow map over the fact stream.
    "q_outliers" -> ((s, d) => {
      val v = dec(col("value"))
      val sq = (col("value") * col("value")).cast(DecimalType(20, 4))
      val m = Tables(s, d, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(v).cast("double").as("s1"),
          sum(sq).cast("double").as("s2"))
        // zero-variance / singleton guards: under ANSI mode the raw
        // divisions THROW (std=0 or n=1); with the guards both engines
        // emit NULL z and the row drops — a constant-valued event type
        // has no 3σ outliers by definition
        .select(col("event_type"), (col("s1") / col("n")).as("mean"),
          when(col("n") > 1,
            sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
              (col("n") - 1))).as("std"))
      Tables(s, d, "events")
        .join(broadcast(m), Seq("event_type"))
        .withColumn("z", when(col("std") =!= 0d,
          round((col("value") - col("mean")) / col("std"), 9)))
        .filter(abs(col("z")) >= 3.0d)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy(col("event_id"))
    }),

    // Nested array-of-struct build (collect + sort) then flatten with
    // position — the P2/P5 explode/flatten shape, both directions.
    "q_nested_explode" -> ((s, d) => {
      val items = Tables(s, d, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").cast("long").as("ln"),
          col("l_quantity").as("qty")))).as("items"))
      items.select(col("l_orderkey"), posexplode(col("items")).as(Seq("pos", "item")))
        .select(col("l_orderkey"), (col("pos") + 1).cast("long").as("pos"),
          col("item.ln").as("ln"), col("item.qty").as("qty"))
        .orderBy(col("l_orderkey"), col("pos"))
    }),

    // Exact distinct counting (the training-pipeline "how many unique
    // users/documents" op). approx_count_distinct (HLL) is the scale
    // path — compared against this exact form in ApproxSpec (sketch
    // implementations differ across engines, so no SQL oracle for it).
    "q_count_distinct" -> ((s, d) => {
      Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("uniq_users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // Skew-resistant two-phase aggregation: salt the hot key space,
    // partial-aggregate per (key, salt), then combine per key. Result is
    // provably identical to the direct groupBy (the oracle IS the direct
    // form) because partials are exact decimals — which also means the
    // salt WIDTH is a free parameter: it is derived from the session's
    // shuffle parallelism (a hard-coded 16 cannot break a hot key's
    // straggler on a 4000-core cluster; width must scale with the
    // cluster, and any width yields identical sums). At 100 TB this is
    // the rewrite for skewed grouping keys; AQE handles skewed JOINS,
    // but grouping skew needs the salt.
    "q_salted_agg" -> ((s, d) => {
      val saltWidth = s.conf.get("spark.sql.shuffle.partitions").toInt
      val partial = Tables(s, d, "events")
        .withColumn("salt", pmod(col("event_id"), lit(saltWidth)))
        .groupBy(col("user_id"), col("salt"))
        .agg(sum(dec(col("value"))).as("psum"), count(lit(1)).as("pn"))
      partial
        .groupBy(col("user_id"))
        .agg(sum(col("psum")).cast("double").as("total"),
          sum(col("pn")).as("n"))
        .orderBy(col("user_id"))
    }),

    // Exact grouped quantiles (quartiles per event type) — continuous
    // linear interpolation, rounded so Spark's percentile() and
    // DuckDB's quantile_cont agree bit-for-bit.
    "q_group_quantiles" -> ((s, d) => {
      Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.25D, 0.5D, 0.75D))").as("qs"))
        .select(col("event_type"),
          round(element_at(col("qs"), 1), 6).as("p25"),
          round(element_at(col("qs"), 2), 6).as("p50"),
          round(element_at(col("qs"), 3), 6).as("p75"))
        .orderBy(col("event_type"))
    }),

    // Winsorization: clip each type's values to its own [p05, p95] —
    // the outlier-robust preprocessing twin of q_outliers (clip instead
    // of flag). Bounds come from the same exact-percentile parity trick
    // as q_group_quantiles (rounded at 6 so both engines agree
    // bit-for-bit) and broadcast as a types-sized dim; clipping is a
    // narrow least/greatest map; the winsorized sum is exact
    // DECIMAL(18,6) (clipped values have ≤6 decimal digits — either a
    // 2-decimal value or a 6-rounded bound — so the decimal cast is
    // lossless and order-independent).
    "q_winsorize" -> ((s, d) => {
      val b = Tables(s, d, "events").groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.05D, 0.95D))").as("qs"))
        .select(col("event_type"),
          round(element_at(col("qs"), 1), 6).as("lo"),
          round(element_at(col("qs"), 2), 6).as("hi"))
      Tables(s, d, "events").join(broadcast(b), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          max(col("lo")).as("lo"), max(col("hi")).as("hi"),
          sum(least(greatest(col("value"), col("lo")), col("hi"))
            .cast(DecimalType(18, 6))).cast("double").as("wsum"))
        .orderBy(col("event_type"))
    }),

    // Table profiling: per-column row count / null count / distinct
    // count / min / max — the ANALYZE-style summary a curation pipeline
    // runs before anything else. One aggregate pass PER COLUMN unioned
    // long-format (at scale each is a single partial-aggregated job
    // over a pruned single-column scan; min/max stringified in the
    // native type first so ordering is numeric, not lexicographic).
    "q_profile" -> ((s, d) => {
      val e = Tables(s, d, "events")
      def prof(c: String) = e.agg(
        count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_v"),
        max(col(c)).cast("string").as("max_v"))
        .select(lit(c).as("column"), col("n"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
      prof("event_id").unionByName(prof("user_id"))
        .unionByName(prof("event_type"))
        .orderBy(col("column"))
    }),

    // Fixed-width histogram per group — the data-profiling primitive
    // (value distributions before training). Bin assignment is a pure
    // projection (floor(value/width)); one partial-aggregated groupBy.
    "q_histogram" -> ((s, d) => {
      Tables(s, d, "events")
        .select(col("event_type"),
          floor(col("value") / 10d).cast("long").as("bin"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bin"))
    }),

    // Native session windows: the same 30-minute-gap sessionization as
    // q_sessionize but through Spark's first-class session_window
    // operator (one hash aggregate with runtime window merging) instead
    // of the two-window gaps-and-islands formulation — one shuffle on
    // user_id rather than window+window+groupBy, and the identical
    // operator works under Structured Streaming with a watermark
    // (StatefulStreamingSpec). Spark merges events strictly inside
    // [start, prev+gap): a gap of exactly 30 min starts a new session,
    // and the window end is last event + gap; the oracle mirrors both.
    // Literally the same declaration as the streaming path: the
    // watermark inside sessionWindowAgg is a no-op in batch execution.
    "q_session_window" -> ((s, d) => {
      graft.streaming.EventsStream.sessionWindowAgg(Tables(s, d, "events"))
        .orderBy(col("user_id"), col("start_us"))
    }),

    // K1 with Mongoose-timestamps semantics: updates overwrite all
    // projected columns and refresh updated_us, but createdAt survives
    // from the target (SURVEY.md §7.4 "findOneAndUpdate is last-writer-
    // wins ... except createdAt").
    "q_merge_timestamps" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      // o_orderdate is TIMESTAMP_NTZ from parquet; unix_micros wants an
      // instant — cast under the UTC session, matching epoch_us(naive).
      val od = col("o_orderdate").cast("timestamp")
      val target = o.select(col("o_orderkey"), col("o_orderstatus"),
        unix_micros(od).as("created_us"),
        unix_micros(od).as("updated_us"))
      val updates = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          unix_micros(od + expr("INTERVAL 1 DAY")).as("updated_us"))
      // updates = ~half the orders fact table, NOT a dim — unhinted
      // (a forced broadcast of a fact slice is the 100 TB OOM; AQE
      // broadcasts only while it fits)
      target.join(updates.withColumnRenamed("o_orderstatus", "u_status")
          .withColumnRenamed("updated_us", "u_updated"),
          Seq("o_orderkey"), "left_outer")
        .select(
          col("o_orderkey"),
          coalesce(col("u_status"), col("o_orderstatus")).as("o_orderstatus"),
          col("created_us"),
          coalesce(col("u_updated"), col("updated_us")).as("updated_us"))
        .orderBy(col("o_orderkey"))
    }),

    // OLS trend per event type (y = value over x = event day): the
    // drift-detection primitive a curation pipeline runs per source /
    // per slice before mixing. All five moment sums are EXACT — x is
    // an integer day, y a DECIMAL(12,2), the cross terms widen before
    // summing — so slope/intercept/r² are single double expressions
    // over partitioning-invariant inputs (the q_stats_exact rationale:
    // no order-dependent float accumulation anywhere). One
    // map-combinable shuffle on event_type; n·Σxx overflows BIGINT at
    // this scale, so the final arithmetic happens in double over the
    // exact sums, identically parenthesized in both engines.
    "q_regression" -> ((s, d) => {
      val base = Tables(s, d, "events").select(
        col("event_type"),
        floor(unix_timestamp(col("ts")).cast("double") / 86400d)
          .cast("long").as("x"),
        dec(col("value")).as("y"))
      val sums = base.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"),
        sum((col("x").cast(DecimalType(10, 0)) * col("y"))
          .cast(DecimalType(28, 2))).as("sxy"),
        sum((col("y") * col("y")).cast(DecimalType(20, 4))).as("syy"))
      val nD = col("n").cast("double"); val sxD = col("sx").cast("double")
      val sxxD = col("sxx").cast("double"); val syD = col("sy").cast("double")
      val sxyD = col("sxy").cast("double"); val syyD = col("syy").cast("double")
      val den = nD * sxxD - sxD * sxD
      val num = nD * sxyD - sxD * syD
      val deny = nD * syyD - syD * syD
      // constant-x (den=0) or constant-y (deny=0) groups: slope /
      // r² are undefined — NULL on both sides, never an ANSI throw
      sums.select(
          col("event_type"), col("n"),
          when(den =!= 0d, round(num / den, 9)).as("slope"),
          when(den =!= 0d,
            round((syD - (num / den) * sxD) / nD, 9)).as("intercept"),
          when(den =!= 0d && deny =!= 0d,
            round(num * num / (den * deny), 9)).as("r2"))
        .orderBy(col("event_type"))
    }),

    // ANALYZE-shape column statistics manifest (null count, exact NDV,
    // min/max per column) — what a cost-based optimizer or data-skipping
    // layer collects per table/partition. ONE pass: Spark plans the
    // multi-column COUNT(DISTINCT) via a single Expand (×4 here) with
    // map-side partials, then the 1-row aggregate is stacked into the
    // per-column manifest rows. At a 100 TB table, swap the exact NDVs
    // for HLL sketches (the q_count_distinct / q_sketch_union trade) —
    // min/max/null counts stay exact either way.
    "q_table_stats" -> ((s, d) => {
      val cols = Seq("l_discount", "l_extendedprice", "l_orderkey", "l_quantity")
      val aggs = cols.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"ndv_$c"),
        min(col(c).cast("double")).as(s"mn_$c"),
        max(col(c).cast("double")).as(s"mx_$c")) }
      // spread (r15): 4 countDistinct partials over 600k rows at the
      // 3-row-group scan parallelism dominated the query (1.8 s 3-task
      // stage); one narrow-row exchange parallelizes them 32-way
      val one = graft.Tables.spread(Tables(s, d, "lineitem"),
        col("l_orderkey")).agg(aggs.head, aggs.tail: _*)
      val stacked = cols
        .map(c => s"'$c', nn_$c, ndv_$c, mn_$c, mx_$c").mkString(", ")
      one.selectExpr(s"stack(${cols.size}, $stacked)" +
          " as (column_name, n_null, ndv, vmin, vmax)")
        .orderBy(col("column_name"))
    }),

    // Time-decayed engagement score per user (the feature-store /
    // recency-weighting primitive): each event contributes
    // value · 2^-min(age_weeks, 10) relative to the corpus max
    // timestamp. The weight is applied as an INTEGER factor
    // 2^(10-k) via shiftleft — value·factor is an exact DECIMAL term,
    // the per-user sum is exact, and the single /1024 happens once in
    // double at the end, so the score is partitioning-invariant (no
    // float powers, no order-dependent sums). Reference timestamp is a
    // broadcast 1-row aggregate; scoring is a narrow map + one
    // user-keyed map-combinable shuffle.
    "q_decay_score" -> ((s, d) => {
      val ev = Tables(s, d, "events")
      val ref = ev.agg(max(col("ts")).as("ref"))
      ev.crossJoin(broadcast(ref))
        .select(col("user_id"),
          least(expr("CAST(datediff(ref, ts) AS BIGINT) div 7"), lit(10L))
            .as("wk"),
          dec(col("value")).as("y"))
        .select(col("user_id"),
          (col("y") * expr("shiftleft(CAST(1 AS BIGINT), CAST(10 - wk AS INT))"))
            .cast(DecimalType(26, 2)).as("term"))
        .groupBy(col("user_id"))
        .agg(round(sum(col("term")).cast("double") / 1024d, 9).as("score"))
        .orderBy(col("user_id"))
    }),

    // K-CORE of the part co-occurrence graph (K=8): iteratively peel
    // nodes of degree < K until the remaining subgraph is the maximal
    // one where every node keeps >= K neighbors — the graph-density
    // curation primitive (dense co-purchase clusters; in a web corpus,
    // the spam-farm/boilerplate core). Each round is one degree
    // aggregation + two semi-shaped equi-joins keyed on node id —
    // map-combinable, no driver data — and the edge frame only ever
    // SHRINKS, so the fixpoint probe is a 1-row count (next ⊆ cur:
    // equal count == equal set). Iterate.fixpoint cuts each round (a
    // round reads the frame three times); rounds are bounded by the
    // peel cascade depth, not graph size, with a loud 20-round
    // backstop the unrolled oracle mirrors (testdata peels in 3-6
    // rounds).
    "q_kcore" -> ((s, d) => kcore(partGraph(s, d))),

    // Multi-source BFS distance: min hop count from the 10 highest-
    // degree "hub" parts to every node within 8 hops of one — the
    // reachability/centrality primitive (influence radius, taint
    // propagation). Frontier iteration: each round joins the CURRENT
    // frontier (not the whole dist table) against the symmetric
    // adjacency, anti-joins already-settled nodes, and settles the
    // survivors at dist r — per-round work ∝ frontier × avg degree,
    // the BFS invariant that keeps round r from re-expanding settled
    // nodes. Adjacency localCheckpointed once; rounds bounded by the
    // hop cap (part of the operator definition, restated in the
    // oracle), with early exit on an empty frontier.
    "q_bfs_distance" -> ((s, d) =>
      hubFrontier(s, d, BFS_MAX_HOPS) { (frontier, sym, dist, r) =>
        frontier.join(sym, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("dist", lit(r.toLong))
      } { (dist, expanded) =>
        // BFS only APPENDS rows (a settled node never changes dist),
        // so the running table can stay a flat union of the already-
        // cut per-round frontiers: lineage grows linearly (a list of
        // materialized scans, each referenced once per anti-join) and
        // a per-round `union.cut()` would be pure O(N)-row copy cost.
        // SSSP below CANNOT do this — its update rewrites old rows
        // (anti-join ∪ improved), so an uncut running table would
        // re-derive per round (the exponential-lineage trap).
        dist.unionAll(expanded)
      }),

    // Weighted single-source (multi-hub) shortest paths — frontier
    // Bellman-Ford with a hop cap and a distance budget, the
    // cost-bounded influence-radius primitive (weighted reachability,
    // cheapest-propagation-cost taint analysis). Per round: relax ONLY
    // the current frontier against the adjacency (work ∝ frontier ×
    // avg degree), min-combine candidates per node map-side, keep the
    // STRICT improvements (a node re-enters the frontier only when its
    // best-known distance actually drops — the Bellman-Ford invariant
    // that terminates on positive weights), and merge them into the
    // dist table via anti-join ∪ union. Edge weight is the
    // deterministic (u+v)%9+1, restated in the oracle; candidates past
    // the distance budget are pruned at relax time, which loses
    // nothing because weights are positive (distance only grows along
    // a walk). Rounds bounded by the hop cap (part of the operator
    // definition: the output is min-dist over walks of ≤SSSP_MAX_HOPS
    // edges and cost ≤SSSP_DIST_CAP), early exit on an empty frontier;
    // per-round localCheckpoint keeps the logical plan flat across
    // iterations (the exponential-lineage trap).
    "q_sssp" -> ((s, d) =>
      hubFrontier(s, d, SSSP_MAX_HOPS) { (frontier, sym, dist, _) =>
        frontier.join(sym, col("node") === col("src"))
          .select(col("dst").as("node"),
            (col("dist") + ((col("src") + col("dst")) % 9 + 1)).as("cand"))
          .filter(col("cand") <= SSSP_DIST_CAP)
          .groupBy(col("node")).agg(min(col("cand")).as("cand"))
          .join(dist.select(col("node"), col("dist").as("best")),
            Seq("node"), "left_outer")
          .filter(col("best").isNull || col("cand") < col("best"))
          .select(col("node"), col("cand").as("dist"))
      } { (dist, improved) =>
        dist.join(improved, Seq("node"), "left_anti").unionAll(improved).cut()
      }),

    // Last-touch attribution — each purchase is credited to the same
    // user's most recent click within a 7-day lookback (the marketing /
    // conversion-path primitive). One user-keyed window pass: carry the
    // last click id/time over the strictly-preceding frame (ties broken
    // by event_id, so a same-timestamp click with a smaller id counts
    // as preceding — restated identically in the oracle), then gate on
    // the lookback. No join at all: the "as-of" lookup rides the same
    // (user, time) sort every other per-user window op shares, and at
    // 100× a user's history is one window partition, never a range
    // cross product.
    "q_attribution" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val lookbackUs = 7L * 86400 * 1000000
      Tables(s, d, "events")
        .withColumn("last_click_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .withColumn("last_click_us",
          last(when(col("event_type") === "click", unix_micros(col("ts"))),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("attributed_click",
          when(unix_micros(col("ts")) - col("last_click_us") <= lookbackUs,
            col("last_click_id")))
        .select(col("event_id"), col("user_id"), col("attributed_click"),
          col("attributed_click").isNotNull.as("attributed"))
        .orderBy(col("event_id"))
    }),

    // Deterministic random walks — the node2vec/DeepWalk corpus-prep
    // primitive (walk traces feed skip-gram embedding training), made
    // oracle-checkable by replacing RNG state with a pure hash: at step
    // k from node u, the walk moves to neighbor index
    // md5(u‖":"‖k)[0:8] % degree(u) in the id-ordered adjacency — a
    // function of (node, step) alone, identical on any cluster layout
    // and restated hex-digit-for-hex-digit in the oracle. Starts are
    // the sampled node set (id % 50 = 0), so walk count scales with the
    // graph; each step is two hash equi-joins per LIVE walk (degree
    // lookup, then (src,pos) neighbor pick) — work ∝ walks, never
    // nodes × steps. The id-ordered neighbor position is a per-node
    // window (a mega-hub's adjacency sorts in one partition — the
    // documented skew case AQE splits); the symmetric graph has no
    // dead ends, so walks never shorten.
    "q_random_walks" -> ((s, d) => {
      val sym = partSym(partGraph(s, d))
      // NOT cut (r16, measured): pinning adj/deg once (the pagerank
      // discipline) looked right — every step joins both and the
      // union-of-steps repeats their subtrees — but the A/B refuted
      // it: jobs/rep 23 → 28 (2 checkpoint jobs + extra stages),
      // driver gaps unchanged, interleaved TimeQuery mins flat-to-
      // worse (2.55/3.02 uncut vs 3.33/2.12/3.45 cut). AQE exchange
      // reuse already dedupes the repeated subtrees at execution, and
      // at 8 steps the plan is small enough that planning is not the
      // gap source.
      val adj = sym.withColumn("pos",
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))))
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      var state = deg.filter(col("src") % WALK_START_MOD === 0)
        .select(col("src").as("walk"), col("src").as("cur"))
        .withColumn("step", lit(0L))
      var out = state
      for (k <- 1 to WALK_STEPS) {
        val pick = state
          .join(deg, state("cur") === deg("src"))
          .withColumn("idx",
            (conv(substring(md5(concat(col("cur").cast("string"),
              lit(s":$k"))), 1, 8), 16, 10).cast("long") % col("deg") + 1)
              .cast("int"))
          .select(col("walk"), col("cur").as("at"), col("idx"))
        state = pick
          .join(adj, pick("at") === adj("src") && pick("idx") === adj("pos"))
          .select(col("walk"), col("dst").as("cur"))
          .withColumn("step", lit(k.toLong))
        out = out.unionAll(state)
      }
      out.select(col("walk"), col("step"), col("cur").as("node"))
        .orderBy(col("walk"), col("step"))
    }),

    // Link prediction — common-neighbors / Jaccard / Adamic-Adar
    // scores for non-adjacent node pairs (the graph-ML candidate-edge
    // primitive). Evidence comes from a MIDDLE-keyed self equi-join:
    // a pair (a,b) shares middle m iff both are m's neighbors, so the
    // join key is m and pair work is Σ deg(m)² over middles — which a
    // mega-hub middle turns quadratic, exactly the triangle-counting
    // hazard. The published mitigation (hub suppression: a node
    // adjacent to everything carries no signal) is part of the
    // operator definition: middles with degree > LP_MID_CAP are
    // excluded from evidence, restated in the oracle. Adamic-Adar's
    // 1/ln(deg m) terms are round-9 then DECIMAL-summed
    // (partitioning-invariant); a contributing middle always has
    // deg ≥ 2 (it needs two distinct neighbors to form a pair), so
    // ln never hits zero. Existing edges leave via an anti-join on
    // the undirected (min,max) key; surviving pairs need ≥2 common
    // neighbors (the standard evidence floor).
    "q_link_predict" -> ((s, d) => {
      // persist the shared subtrees: `raw` is itself a pair self-join
      // consumed twice (sym, existing anti-join), `deg` is read three
      // times, and `inc` feeds both sides of the wedge join — without
      // the persists each reference re-runs the whole upstream
      // (measured 3.1 → 2.3 s at sf0.1; harness housekeeping clears)
      val raw = partGraph(s, d).persist()
      val sym = partSym(raw)
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .persist()
      val inc = graft.Tables.spread(
        sym.select(col("dst").as("m"), col("src").as("e"))
          .join(deg.select(col("src").as("m"), col("deg").as("dm")), Seq("m"))
          .filter(col("dm") <= LP_MID_CAP), col("m"))
        .persist()
      val scored = inc.select(col("m"), col("dm"), col("e").as("a"))
        .join(inc.select(col("m"), col("e").as("b")), Seq("m"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cn"),
          sum(round(lit(1.0) / log(col("dm").cast("double")), 9)
            .cast(DecimalType(24, 9))).cast("double").as("adamic_adar"))
        .filter(col("cn") >= 2)
      val existing = raw.select(col("u").as("a"), col("v").as("b"))
      scored.join(existing, Seq("a", "b"), "left_anti")
        .join(deg.select(col("src").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("src").as("b"), col("deg").as("db")), Seq("b"))
        .select(col("a"), col("b"), col("cn"),
          round(col("cn").cast("double") /
            (col("da") + col("db") - col("cn")), 9).as("jaccard"),
          col("adamic_adar"))
        .orderBy(col("a"), col("b"))
    }),

    // Exponential-kernel smoothing (EWMA, truncated) — the per-entity
    // trend feature (decayed engagement, smoothed rate). The infinite
    // recurrence y_t = x_t + ½·y_{t−1} is NOT window-expressible
    // exactly (the weight depends on both endpoints), so the operator
    // is DEFINED as the 16-tap truncated kernel Σ_{j<16} 0.5^j·x_{t−j}
    // — the tail past 16 taps is < 2^-15 of the signal. Each tap is a
    // lag over ONE shared (user, time) window sort. The arithmetic is
    // INTEGER UNITS of (cent · 2^-15): tap j contributes
    // cents_{t-j} · 2^(15-j), so the whole kernel is exact BIGINT adds
    // (a DECIMAL formulation measured a 2e-6 drift — Spark's 16-deep
    // decimal Add chain erodes scale at the 38-precision cap) and
    // lands in double through ONE division by 100·2^15, correctly
    // rounded identically in both engines. Headroom: Σ fits BIGINT up
    // to cent values ~2^46 — nine orders past DECIMAL(12,2)'s range.
    // Work: one user-keyed shuffle + 16 codegen'd lags, no self-join.
    "q_ewma" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val terms = (0 until EWMA_TAPS).map { j =>
        coalesce(lag(col("cents"), j).over(w), lit(0L)) *
          lit(1L << (EWMA_TAPS - 1 - j))
      }
      Tables(s, d, "events")
        .withColumn("cents",
          (dec(col("value")) * 100).cast("long"))
        .withColumn("acc", terms.reduce(_ + _))
        .select(col("event_id"), col("user_id"),
          dec(col("value")).cast("double").as("value"),
          (col("acc").cast("double") /
            lit((100L << (EWMA_TAPS - 1)).toDouble)).as("ewma"))
        .orderBy(col("event_id"))
    }),

    // Empirical-CDF normalization — per-row percentile-rank feature
    // transform (quantile normalization for training features): each
    // event's value becomes P(V ≤ v) within its event_type. The
    // corpus-scaled work is ONE (type, value) grid count; the
    // cumulative and total sums are windows over the GRID frame
    // (distinct-value cardinality — DECIMAL(12,2) bounds the domain —
    // never the corpus), and rows get their rank back through a hash
    // equi-join on the grid key. The integer cum/total division lands
    // in double exactly once, round-9 (partitioning-invariant). The
    // per-type window orders the type's grid slice in one partition —
    // grid-sized by construction, the same posture as q_chi_square's
    // margins; never a corpus-wide sort.
    "q_cdf_normalize" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("event_type"), dec(col("value")).as("v"))
      val grid = ev.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("c"))
      val wg = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wt = Window.partitionBy(col("event_type"))
      val cdf = grid
        .withColumn("cum", sum(col("c")).over(wg))
        .withColumn("n", sum(col("c")).over(wt))
        .select(col("event_type"), col("v"),
          round(col("cum").cast("double") / col("n"), 9).as("ecdf"))
      ev.join(cdf, Seq("event_type", "v"))
        .select(col("event_id"), col("event_type"),
          col("v").cast("double").as("value"), col("ecdf"))
        .orderBy(col("event_id"))
    }),

    // Skyline (Pareto frontier) — the preference-query primitive: parts
    // nobody should buy a strictly worse version of (cheaper-or-equal
    // AND bigger-or-equal, strict somewhere ⇒ dominated). 2-D skylines
    // need NO pairwise comparison: a part is dominated iff the max size
    // among STRICTLY cheaper parts already reaches its size, or an
    // equal-priced part is strictly bigger. Both thresholds come from
    // the PRICE GRID (distinct DECIMAL(12,2) prices — domain-bounded,
    // the q_cdf_normalize argument): per-price max size, then a
    // strictly-preceding running max over the price-sorted grid; rows
    // rejoin their thresholds by hash equi-key. The definitional
    // NOT-EXISTS dominance pair scan is the ORACLE, never the plan.
    "q_skyline" -> ((s, d) => {
      val p = Tables(s, d, "part")
        .select(col("p_partkey"), dec(col("p_retailprice")).as("price"),
          col("p_size").cast("long").as("psize"))
      val grid = p.groupBy(col("price")).agg(max(col("psize")).as("gmax"))
      val wg = Window.orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val thr = grid.withColumn("cheaper_max", max(col("gmax")).over(wg))
      p.join(thr, Seq("price"))
        .filter(!(coalesce(col("cheaper_max") >= col("psize"), lit(false)) ||
          col("gmax") > col("psize")))
        .select(col("p_partkey"), col("price").cast("double").as("price"),
          col("psize"))
        .orderBy(col("p_partkey"))
    }),

    // Mutual information — the feature-selection companion to
    // q_chi_square: how many nats knowing the event_type carries about
    // the value decile (and vice versa), plus the normalized (NMI)
    // form. Same scale layout as the χ²/PSI family: one corpus pass to
    // the (type, bin) cell grid — bins are tenths of the GLOBAL value
    // range from one broadcast 1-row min/max — margins and totals as
    // windows over the grid, per-cell p·ln(p/(px·py)) contributions
    // round-9 then DECIMAL-summed; entropies for the NMI denominator
    // come from the same margins (identical parenthesization in the
    // oracle; 0·ln0 cells cannot occur — a cell row exists only with
    // count ≥ 1).
    "q_mutual_info" -> ((s, d) => {
      val rng = Tables(s, d, "events")
        .agg(min(dec(col("value")).cast("double")).as("lo"),
          max(dec(col("value")).cast("double")).as("hi"))
      val cells = Tables(s, d, "events")
        .select(col("event_type"), dec(col("value")).cast("double").as("v"))
        .crossJoin(broadcast(rng))
        .withColumn("bin", least(lit(9L),
          floor((col("v") - col("lo")) * 10 / (col("hi") - col("lo")))
            .cast("long")))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val wr = Window.partitionBy(col("event_type"))
      val wc = Window.partitionBy(col("bin"))
      val wall = Window.partitionBy()
      val n = sum(col("c")).over(wall).cast("double")
      val pxy = col("c").cast("double") / n
      val px = sum(col("c")).over(wr).cast("double") / n
      val py = sum(col("c")).over(wc).cast("double") / n
      val mi = sum(round(pxy * log(pxy / (px * py)), 9)
        .cast(DecimalType(24, 9))).over(wall).cast("double")
      // marginal entropies from per-cell terms scaled by the cell's
      // share of its margin: Σ_cells (c/cx)·(−px·ln px) over cells of
      // a margin row double-counts, so fold each margin term exactly
      // once via the first-cell-of-margin trick
      val firstInRow = row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("bin"))) === 1
      val firstInCol = row_number().over(
        Window.partitionBy(col("bin")).orderBy(col("event_type"))) === 1
      val hx = sum(when(firstInRow, round(-px * log(px), 9))
        .otherwise(lit(0.0)).cast(DecimalType(24, 9))).over(wall)
        .cast("double")
      val hy = sum(when(firstInCol, round(-py * log(py), 9))
        .otherwise(lit(0.0)).cast(DecimalType(24, 9))).over(wall)
        .cast("double")
      cells
        .withColumn("contrib", round(pxy * log(pxy / (px * py)), 9))
        .withColumn("mi", mi)
        .withColumn("nmi", round(mi / sqrt(hx * hy), 9))
        .select(col("event_type"), col("bin"), col("c"), col("contrib"),
          col("mi"), col("nmi"))
        .orderBy(col("event_type"), col("bin"))
    }),

    // Ranking under uncertainty — the Wilson-score lower bound
    // (Wilson 1927, the "how not to sort by average rating" fix): user
    // cohorts ranked by purchase share among view+purchase events,
    // with small samples shrunk toward zero instead of topping the
    // chart (successes must be a subset of trials, so trials =
    // views + purchases — raw views alone can undercount the
    // denominator in this event stream and push p past 1). One
    // corpus pass builds the per-cohort integers;
    // the bound is ONE double expression over them (z = 1.96),
    // identically parenthesized in the oracle, round-9; the rank is a
    // row_number over the COHORT grid (20 rows) with the score-then-id
    // total order. A naive-rate rank is emitted alongside so the
    // operator demonstrably reorders (GateSpec-style value is in the
    // oracle hash).
    "q_wilson_rank" -> ((s, d) => {
      val Z = 1.96
      val cohorts = Tables(s, d, "events")
        .withColumn("cohort", col("user_id") % 20)
        .groupBy(col("cohort"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("n_views"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
        .withColumn("n_trials", col("n_views") + col("n_purchases"))
        .filter(col("n_trials") > 0)
      val nD = col("n_trials").cast("double")
      val p = col("n_purchases").cast("double") / nD
      val z2 = lit(Z * Z)
      val low = (p + z2 / (lit(2.0) * nD) - lit(Z) *
        sqrt(p * (lit(1.0) - p) / nD + z2 / (lit(4.0) * nD * nD))) /
        (lit(1.0) + z2 / nD)
      val scored = cohorts
        .withColumn("naive_rate", round(p, 9))
        .withColumn("wilson_low", round(low, 9))
      scored
        .withColumn("rank", row_number().over(
          Window.orderBy(col("wilson_low").desc, col("cohort"))))
        .select(col("cohort"), col("n_trials"), col("n_purchases"),
          col("naive_rate"), col("wilson_low"), col("rank").cast("long").as("rank"))
        .orderBy(col("rank"))
    }),

    // Forecast backtest — the capacity-planning eval loop: score the
    // day-ago seasonal-naive forecast (predict hour h with hour h−24's
    // actual) against hourly event counts, per event_type, reporting
    // MAE and sMAPE. The corpus collapses to the (type, hour) GRID in
    // one count pass; the forecast is a grid self equi-join on
    // (type, h−24) — an exact calendar shift, deliberately a join and
    // not a lag (hour gaps must miss, not slide); both metrics are
    // exact-integer ratios — MAE one round-9 division, sMAPE a DECIMAL
    // sum of round-9 per-hour terms divided once — the q_chi_square
    // invariance recipe.
    "q_forecast_eval" -> ((s, d) => {
      val hourly = Tables(s, d, "events")
        .select(col("event_type"),
          floor(unix_micros(col("ts")).cast("double") / 3600000000L)
            .cast("long").as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("a"))
      val f = hourly.select(col("event_type"), (col("h") + 24).as("h"),
        col("a").as("fc"))
      hourly.join(f, Seq("event_type", "h"))
        .withColumn("abs_err", abs(col("a") - col("fc")))
        .withColumn("smape_t",
          round(lit(2.0) * col("abs_err") / (col("a") + col("fc")), 9))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          round(sum(col("abs_err")).cast("double") / count(lit(1)), 9)
            .as("mae"),
          round(sum(col("smape_t").cast(DecimalType(24, 9))).cast("double") /
            count(lit(1)), 9).as("smape"))
        .orderBy(col("event_type"))
    }),

    // Session path analysis — the product-analytics "top converting
    // paths" report: sessions (the same 30-min-gap definition as
    // q_sessionize) reduced to their ordered event-type path string,
    // then the 10 most common paths with conversion share. Path
    // assembly is per-session bounded (array_sort over a struct list —
    // session length caps the row, the corpus never does); the only
    // corpus shuffles are the shared (user, time) window sort and the
    // session groupBy; the top-10 is a TakeOrdered over the path grid
    // with (count desc, path) as the deterministic tie-break, restated
    // in the oracle.
    "q_session_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val newSession = when(
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1)
          .over(w) > 30L * 60 * 1000000, 1L)
        .otherwise(when(lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L))
      Tables(s, d, "events")
        .withColumn("new_s", newSession)
        .withColumn("session_id",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          expr("""array_join(transform(
                 |  array_sort(collect_list(struct(
                 |    unix_micros(ts) as us, event_id, event_type))),
                 |  x -> x.event_type), '>')""".stripMargin).as("path"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("conv")).as("n_converting"))
        .withColumn("conv_rate",
          round(col("n_converting").cast("double") / col("n_sessions"), 9))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(10)
    }),

    // Rolling z-score anomaly flags — the per-entity outlier monitor
    // (fraud spikes, sensor glitches): each event scored against ITS
    // OWN user's trailing 15-event window, unlike q_outliers' global
    // per-type quantile fences. The moments are exact BIGINT sums of
    // cents and cents² over the bounded frame (one user-keyed window
    // sort — the same shuffle every per-user op shares), so they are
    // partitioning-invariant; variance and z land in double through
    // one identically-parenthesized expression on both engines:
    // z = (n·x − Σx) / (n·σ), σ² = (n·Σx² − (Σx)²)/(n·(n−1)). Windows
    // shorter than 8 events score null (part of the definition — a
    // 3-event "3σ" flag is noise, and n−1 division needs n ≥ 2).
    "q_zscore_anomaly" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-(ZSCORE_WIN - 1), 0)
      val ev = Tables(s, d, "events")
        .withColumn("cents", (dec(col("value")) * 100).cast("long"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("cents")).over(w))
        .withColumn("sxx", sum(col("cents") * col("cents")).over(w))
      val nD = col("n").cast("double")
      val varNum = (nD * col("sxx") - col("sx").cast("double") * col("sx"))
      val sigma = sqrt(varNum / (nD * (nD - 1)))
      val z = (nD * col("cents") - col("sx")) / (nD * sigma)
      ev.select(col("event_id"), col("user_id"),
        dec(col("value")).cast("double").as("value"),
        when(col("n") >= ZSCORE_MIN_N && varNum > 0, round(z, 9)).as("z"),
        coalesce(when(col("n") >= ZSCORE_MIN_N && varNum > 0,
          abs(round(z, 9)) > 3.0), lit(false)).as("anomaly"))
        .orderBy(col("event_id"))
    }),

    // Exact 1-D Wasserstein (earth-mover) distance between each
    // source's document-length distribution and the REST of the
    // corpus — the metric-aware complement to q_psi_drift/
    // q_js_divergence: divergences saturate when supports barely
    // overlap, while W₁ = ∫|F_A − F_B|dx keeps measuring HOW FAR the
    // mass must move (the units are characters). On an integer grid
    // the integral is a SUM over distinct lengths: |cumA·nB − cumB·nA|
    // ·Δx with the common-denominator trick keeping every term an
    // exact BIGINT (one final round-9 division by nA·nB) — the
    // q_ks_test numerator discipline, with the same rescale-to-
    // DECIMAL(38,0) note at 10⁹⁺ rows/source. The complement CDF is
    // corpus-cum − source-cum, so the whole audit is ONE corpus pass,
    // a grid-sized window per source, and a 20-row output.
    "q_wasserstein" -> ((s, d) => {
      val doc = Tables(s, d, "documents")
        .select(col("source"), col("n_chars").as("x"))
      val c = doc.groupBy(col("source"), col("x"))
        .agg(count(lit(1)).as("cnt"))
      val wG = Window.orderBy(col("x"))
      val grid = doc.groupBy(col("x")).agg(count(lit(1)).as("cnt_all"))
        .withColumn("cum_all", sum(col("cnt_all")).over(
          wG.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("dx", lead(col("x"), 1).over(wG) - col("x"))
        .select(col("x"), col("cum_all"), col("dx"))
      val srcs = doc.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val wS = Window.partitionBy(col("source")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, 0)
      srcs.crossJoin(grid)
        .join(c, Seq("source", "x"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .withColumn("cum_src", sum(col("cnt")).over(wS))
        .crossJoin(broadcast(doc.agg(count(lit(1)).as("n_all"))))
        .withColumn("term",
          (abs(col("cum_src") * (col("n_all") - col("n_src")) -
            (col("cum_all") - col("cum_src")) * col("n_src")) *
            coalesce(col("dx"), lit(0L))).cast(DecimalType(38, 0)))
        .groupBy(col("source"), col("n_src"), col("n_all"))
        .agg(sum(col("term")).as("tsum"))
        .select(col("source"), col("n_src"),
          (col("n_all") - col("n_src")).as("n_rest"),
          round(col("tsum").cast("double") /
            (col("n_src").cast("double") *
              (col("n_all") - col("n_src")).cast("double")), 9).as("w1"))
        .orderBy(col("source"))
    }),

    // Population Stability Index — the model-monitoring drift metric:
    // how far each event_type's value distribution moved between the
    // first and second half of the time range (train/serve skew, the
    // check a feature pipeline runs before retraining). One corpus
    // pass builds (type, half, bin) counts over 10 equal-width bins —
    // bin edges come from ONE 1-row min/max aggregate broadcast to the
    // scan (never a quantile sort); bin totals are windows over the
    // (type, bin) GRID. Shares are floored at 1e-6 (the published PSI
    // zero-bin guard, part of the definition and restated in the
    // oracle), per-bin contributions (p−q)·ln(p/q) are round-9 then
    // DECIMAL-summed into the per-type PSI — the q_chi_square
    // invariance recipe.
    "q_psi_drift" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          dec(col("value")).cast("double").as("v"))
      val rng = ev.agg(min(col("us")).as("lo_us"), max(col("us")).as("hi_us"),
        min(col("v")).as("lo_v"), max(col("v")).as("hi_v"))
      val cells = ev.crossJoin(broadcast(rng))
        .withColumn("half",
          when(col("us") * 2 <= col("lo_us") + col("hi_us"), lit("ref"))
            .otherwise(lit("cur")))
        // degenerate range → single bin (not a 0/0 NaN: Spark casts
        // NaN to 0 silently, DuckDB throws — divergence on legal data)
        .withColumn("bin",
          when(col("hi_v") === col("lo_v"), lit(0L))
            .otherwise(least(lit(9L),
              floor((col("v") - col("lo_v")) * 10 /
                (col("hi_v") - col("lo_v"))).cast("long"))))
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(when(col("half") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("half") === "cur", 1L).otherwise(0L)).as("n_cur"))
      val wt = Window.partitionBy(col("event_type"))
      val p = greatest(col("n_ref").cast("double") /
        sum(col("n_ref")).over(wt).cast("double"), lit(1e-6))
      val q = greatest(col("n_cur").cast("double") /
        sum(col("n_cur")).over(wt).cast("double"), lit(1e-6))
      cells
        .withColumn("contrib", round((p - q) * log(p / q), 9))
        .withColumn("psi",
          sum(col("contrib").cast(DecimalType(24, 9))).over(wt)
            .cast("double"))
        .select(col("event_type"), col("bin"), col("n_ref"), col("n_cur"),
          col("contrib"), col("psi"))
        .orderBy(col("event_type"), col("bin"))
    }),

    // Chi-square independence diagnostics: event_type × day-of-week
    // contingency table with expected counts and per-cell χ²
    // contributions — the label-leakage / spurious-correlation check a
    // curation pipeline runs between a feature and a slice key. The
    // corpus-scaled work is ONE map-combinable cell count; the margins
    // (row/column/grand totals) are windows over the CELL frame, whose
    // size is the category-grid cardinality, never the corpus — the
    // single-partition global window is over ~|types|×7 rows by
    // construction. dow is pure day-number arithmetic (day % 7), not a
    // calendar function, so both engines share one definition; the χ²
    // total is an exact DECIMAL sum of the round-9 contributions
    // (partitioning-invariant, the q_funnel checksum rationale).
    "q_chi_square" -> ((s, d) => {
      val cells = Tables(s, d, "events")
        .select(col("event_type"),
          (floor(unix_seconds(col("ts")).cast("double") / 86400d)
            .cast("long") % 7).as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("o"))
      val wr = Window.partitionBy(col("event_type"))
      val wc = Window.partitionBy(col("dow"))
      val wall = Window.partitionBy()
      val oD = col("o").cast("double")
      val e = sum(col("o")).over(wr).cast("double") *
        sum(col("o")).over(wc).cast("double") /
        sum(col("o")).over(wall).cast("double")
      cells
        .withColumn("e_raw", e)
        .withColumn("c_raw", (oD - col("e_raw")) * (oD - col("e_raw")) /
          col("e_raw"))
        .select(col("event_type"), col("dow"), col("o"),
          round(col("e_raw"), 9).as("expected"),
          round(col("c_raw"), 9).as("contrib"),
          sum(round(col("c_raw"), 9).cast(DecimalType(24, 9))).over(wall)
            .cast("double").as("chi2"))
        .orderBy(col("event_type"), col("dow"))
    })
  )

  /** q_kcore's K and round backstop — restated in the unrolled oracle,
    * so both live here as the single source. */
  private val KCORE_K = 8
  private val KCORE_MAX_ROUNDS = 20

  /** q_bfs_distance's hub count and hop cap — restated in the unrolled
    * oracle (the cap is part of the operator definition: nodes farther
    * than BFS_MAX_HOPS from every hub are absent from the output). */
  private val BFS_HUBS = 10
  private val BFS_MAX_HOPS = 8

  /** q_sssp's hop cap and distance budget — both part of the operator
    * definition (min cost over walks of ≤SSSP_MAX_HOPS edges and cost
    * ≤SSSP_DIST_CAP from a hub), restated in the unrolled oracle. */
  private val SSSP_MAX_HOPS = 8
  private val SSSP_DIST_CAP = 30L

  /** q_random_walks' length and start-sampling modulus — operator
    * definition constants, restated in the unrolled oracle. */
  private val WALK_STEPS = 4
  private val WALK_START_MOD = 50

  /** q_link_predict's hub-suppression cap on middle-node degree —
    * part of the operator definition, restated in the oracle. */
  private val LP_MID_CAP = 64

  /** q_ewma's truncated-kernel width — part of the operator definition
    * (tail past 16 taps < 2^-15 of the signal), restated tap-for-tap
    * in the oracle. */
  private val EWMA_TAPS = 16

  /** q_zscore_anomaly's trailing-window width and minimum sample size
    * for a score — operator definition, restated in the oracle. */
  private val ZSCORE_WIN = 15
  private val ZSCORE_MIN_N = 8

  def oracles: Map[String, String] = Map(
    // same grid, same window means, same round-9/DECIMAL discipline
    "q_seasonal_decompose" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hod,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2, 3),
        |trended AS (
        |  SELECT *,
        |    round(CAST(SUM(x) OVER w AS DOUBLE) /
        |      CAST(COUNT(*) OVER w AS DOUBLE), 9) AS trend
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type, day)),
        |dev AS (
        |  SELECT *, round(CAST(x AS DOUBLE) - trend, 9) AS dv
        |  FROM trended),
        |seas AS (
        |  SELECT *,
        |    round(CAST(SUM(CAST(dv AS DECIMAL(24,9))) OVER h AS DOUBLE) /
        |      CAST(COUNT(*) OVER h AS DOUBLE), 9) AS seasonal
        |  FROM dev
        |  WINDOW h AS (PARTITION BY event_type, hod))
        |SELECT event_type, day, hod, x, trend, seasonal,
        |  round(CAST(x AS DOUBLE) - trend - seasonal, 9) AS residual
        |FROM seas ORDER BY event_type, day, hod""".stripMargin,

    // same window triples, same grid support, same top-20 order
    "q_seq_patterns" ->
      """WITH triples AS (
        |  SELECT p2, p1, event_type AS p0, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT event_type,
        |      LAG(event_type, 1) OVER w AS p1,
        |      LAG(event_type, 2) OVER w AS p2
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |  WHERE p2 IS NOT NULL GROUP BY p2, p1, event_type)
        |SELECT p2 || '>' || p1 || '>' || p0 AS pattern, n,
        |  round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 6)
        |    AS support
        |FROM triples
        |ORDER BY n DESC, pattern LIMIT 20""".stripMargin,

    // same symmetrized edge moments, same collapsed Pearson form
    "q_assortativity" ->
      s"""WITH $partDegDuck,
        |sym AS (
        |  SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw),
        |pairs AS (
        |  SELECT du.dg AS du, dv.dg AS dv
        |  FROM sym JOIN deg du ON sym.u = du.n
        |  JOIN deg dv ON sym.v = dv.n),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(du) AS BIGINT) AS sx,
        |    CAST(SUM(du * dv) AS BIGINT) AS sxy,
        |    CAST(SUM(du * du) AS BIGINT) AS sxx
        |  FROM pairs)
        |SELECT n AS n_directed_edges,
        |  round(CAST(n * sxy - sx * sx AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE), 9) AS assortativity
        |FROM m WHERE n > 0""".stripMargin,

    // same hour grid, lag equi-join, exact integer deviations
    // the burst grid/z CTEs restated, then breakpoints + ordered agg
    "q_sax_words" ->
      s"""WITH $saxSymbolsDuck
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  string_agg(symbol, '' ORDER BY day) AS sax_word,
        |  CAST(SUM(CASE WHEN symbol = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(SUM(CASE WHEN symbol = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_b,
        |  CAST(SUM(CASE WHEN symbol = 'c' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_c,
        |  CAST(SUM(CASE WHEN symbol = 'd' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_d
        |FROM st GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same z/symbol CTEs as q_sax_words, three LEADs over the per-type
    // day order, NULL-propagating concat dropped like Spark's
    "q_sax_motifs" ->
      s"""WITH $saxSymbolsDuck,
        |mw AS (
        |  SELECT event_type, symbol ||
        |    LEAD(symbol, 1) OVER (PARTITION BY event_type ORDER BY day) ||
        |    LEAD(symbol, 2) OVER (PARTITION BY event_type ORDER BY day) ||
        |    LEAD(symbol, 3) OVER (PARTITION BY event_type ORDER BY day)
        |    AS motif
        |  FROM st)
        |SELECT motif, CAST(COUNT(*) AS BIGINT) AS n_occ,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM mw WHERE motif IS NOT NULL
        |GROUP BY motif HAVING COUNT(*) >= 2
        |ORDER BY n_occ DESC, motif""".stripMargin,

    // same grid medians, same integer Hampel flag
    "q_mad_anomaly" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |mg AS (
        |  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM ev GROUP BY event_type, c),
        |mc AS (
        |  SELECT event_type, c,
        |    CAST(SUM(k) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(k) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM mg),
        |med AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN cum * 2 >= n THEN c END) AS med
        |  FROM mc GROUP BY event_type),
        |dev AS (
        |  SELECT ev.event_type, c, abs(c - med) AS dv
        |  FROM ev JOIN med ON ev.event_type = med.event_type),
        |dg AS (
        |  SELECT event_type, dv, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM dev GROUP BY event_type, dv),
        |dc AS (
        |  SELECT event_type, dv,
        |    CAST(SUM(k) OVER (PARTITION BY event_type ORDER BY dv
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(k) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM dg),
        |mad AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN cum * 2 >= n THEN dv END) AS mad
        |  FROM dc GROUP BY event_type)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  MAX(med) AS median_cents, MAX(mad) AS mad_cents,
        |  CAST(SUM(CASE WHEN dv * 10000 > mad * 44478 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anom,
        |  round(CAST(SUM(CASE WHEN dv * 10000 > mad * 44478
        |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9) AS anom_rate
        |FROM dev d
        |JOIN med ON d.event_type = med.event_type
        |JOIN mad ON d.event_type = mad.event_type
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    // same two-series day grid, exact moments, coalesced rank key
    "q_cross_corr" ->
      """WITH cd AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY day),
        |pairs AS (
        |  SELECT l.lag, a.x, b.y
        |  FROM cd a
        |  CROSS JOIN (SELECT unnest(range(-3, 4)) AS lag) l
        |  JOIN cd b ON a.day + l.lag = b.day),
        |m AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY lag),
        |t AS (
        |  SELECT lag, n_pairs,
        |    n_pairs * sxx - sx * sx AS vx,
        |    n_pairs * syy - sy * sy AS vy,
        |    CASE WHEN n_pairs * sxx - sx * sx > 0
        |        AND n_pairs * syy - sy * sy > 0 THEN
        |      round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |        sqrt(CAST((n_pairs * sxx - sx * sx) *
        |          (n_pairs * syy - sy * sy) AS DOUBLE)), 9)
        |    END AS r
        |  FROM m)
        |SELECT lag, n_pairs, r,
        |  MAX(CASE WHEN rk = 1 THEN lag END) OVER () AS best_lag
        |FROM (SELECT lag, n_pairs, r, row_number() OVER
        |    (ORDER BY COALESCE(abs(r), -1.0) DESC, lag) AS rk FROM t)
        |ORDER BY lag""".stripMargin,

    "q_acf" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |devs AS (
        |  SELECT event_type, hr,
        |    x * COUNT(*) OVER (PARTITION BY event_type) -
        |      SUM(x) OVER (PARTITION BY event_type) AS dev
        |  FROM hourly),
        |denom AS (
        |  SELECT event_type, SUM(dev * dev) AS num0
        |  FROM devs GROUP BY event_type),
        |probes AS (
        |  SELECT event_type, hr + lag AS hr, CAST(lag AS BIGINT) AS lag,
        |    dev AS dev0
        |  FROM devs, (SELECT unnest(range(1, 25)) AS lag) l),
        |pairs AS (
        |  SELECT p.event_type, p.lag,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    SUM(p.dev0 * d.dev) AS numk
        |  FROM probes p JOIN devs d
        |    ON p.event_type = d.event_type AND p.hr = d.hr
        |  GROUP BY p.event_type, p.lag)
        |SELECT pairs.event_type AS event_type, lag, n_pairs,
        |  round(CAST(numk AS DOUBLE) / CAST(num0 AS DOUBLE), 9) AS acf
        |FROM pairs JOIN denom ON pairs.event_type = denom.event_type
        |ORDER BY pairs.event_type, lag""".stripMargin,

    // same train slice, cap, floor and rank; holdout pair-join check
    "q_cf_holdout" -> {
      val cap = CF_ORDER_CAP
      s"""WITH tli AS (
         |  SELECT DISTINCT ok, pk FROM (
         |    SELECT l_orderkey AS ok, l_partkey AS pk
         |    FROM lineitem WHERE l_orderkey % 16 = 0
         |    UNION ALL
         |    SELECT l_orderkey, l_partkey - l_partkey % 10
         |    FROM lineitem WHERE l_orderkey % 16 = 0)),
         |train AS (
         |  SELECT ok, pk FROM (
         |    SELECT ok, pk, COUNT(*) OVER (PARTITION BY ok) AS osz FROM tli)
         |  WHERE osz <= $cap),
         |deg AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM train GROUP BY pk),
         |pairs AS (
         |  SELECT a.pk AS item, b.pk AS rec, CAST(COUNT(*) AS BIGINT) AS c_ij
         |  FROM train a JOIN train b ON a.ok = b.ok AND a.pk <> b.pk
         |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2),
         |recs AS (
         |  SELECT item, rec FROM (
         |    SELECT item, rec,
         |      ROW_NUMBER() OVER (PARTITION BY item ORDER BY
         |        round(CAST(c_ij AS DOUBLE) / sqrt(CAST(di.c * dj.c
         |          AS DOUBLE)), 9) DESC, rec) AS rk
         |    FROM pairs JOIN deg di ON di.pk = item
         |    JOIN deg dj ON dj.pk = rec) t
         |  WHERE rk <= 5),
         |rawtest AS (
         |  SELECT DISTINCT ok, pk FROM (
         |    SELECT l_orderkey AS ok, l_partkey AS pk
         |    FROM lineitem WHERE l_orderkey % 16 = 8
         |    UNION ALL
         |    SELECT l_orderkey, l_partkey - l_partkey % 10
         |    FROM lineitem WHERE l_orderkey % 16 = 8)),
         |test AS (
         |  SELECT ok, pk FROM (
         |    SELECT ok, pk, COUNT(*) OVER (PARTITION BY ok) AS osz
         |    FROM rawtest)
         |  WHERE osz <= $cap),
         |tpairs AS (
         |  SELECT DISTINCT a.pk AS item, b.pk AS rec
         |  FROM test a JOIN test b ON a.ok = b.ok AND a.pk <> b.pk)
         |SELECT CAST(COUNT(DISTINCT recs.item) AS BIGINT) AS n_items,
         |  CAST(COUNT(*) AS BIGINT) AS n_recs,
         |  CAST(COALESCE(SUM(CASE WHEN tpairs.item IS NOT NULL
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
         |  round(CAST(COALESCE(SUM(CASE WHEN tpairs.item IS NOT NULL
         |    THEN 1 ELSE 0 END), 0) AS DOUBLE) /
         |    CAST(NULLIF(COUNT(*), 0) AS DOUBLE), 6) AS precision
         |FROM recs LEFT JOIN tpairs
         |  ON recs.item = tpairs.item AND recs.rec = tpairs.rec"""
        .stripMargin
    },

    // same halves, same argmax tie-break, same broadcast model join
    "q_markov_eval" ->
      """WITH pairs AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |valid AS (SELECT * FROM pairs WHERE prev IS NOT NULL),
        |rng AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM valid),
        |halved AS (
        |  SELECT *, us * 2 <= lo + hi AS is_train FROM valid, rng),
        |grid AS (
        |  SELECT prev, event_type AS nxt, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM halved WHERE is_train GROUP BY prev, event_type),
        |model AS (
        |  SELECT prev, nxt AS pred FROM (
        |    SELECT prev, nxt, ROW_NUMBER() OVER (PARTITION BY prev
        |      ORDER BY c DESC, nxt) AS rk FROM grid) t
        |  WHERE rk = 1),
        |majority AS (
        |  SELECT nxt AS base_pred FROM (
        |    SELECT nxt, SUM(c) AS c FROM grid GROUP BY nxt) g
        |  ORDER BY c DESC, nxt LIMIT 1)
        |SELECT prev, CAST(COUNT(*) AS BIGINT) AS n_test,
        |  CAST(SUM(CASE WHEN event_type = pred THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hits,
        |  round(CAST(SUM(CASE WHEN event_type = pred THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy,
        |  round(CAST(SUM(CASE WHEN event_type = base_pred THEN 1 ELSE 0
        |    END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS baseline_accuracy
        |FROM halved LEFT JOIN model USING (prev), majority
        |WHERE NOT is_train
        |GROUP BY prev ORDER BY prev""".stripMargin,

    // the q_triangles orientation chain + degree join + one ratio
    "q_clustering_coeff" ->
      s"""WITH $partTrianglesDuck,
        |tcnt AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) x
        |  GROUP BY node)
        |SELECT deg.n AS part, deg.dg AS deg,
        |  COALESCE(tcnt.n_tri, 0) AS n_tri,
        |  round(2.0 * CAST(COALESCE(tcnt.n_tri, 0) AS DOUBLE) /
        |    CAST(deg.dg * (deg.dg - 1) AS DOUBLE), 9) AS coeff
        |FROM deg LEFT JOIN tcnt ON deg.n = tcnt.node
        |WHERE deg.dg >= 2
        |ORDER BY coeff DESC, part LIMIT 20""".stripMargin,

    // exact rank-form Gini: same total-order ranks, integer sums
    "q_gini" ->
      """WITH base AS (
        |  SELECT c_mktsegment AS seg, c_custkey AS k,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |pos AS (
        |  SELECT seg, k, cents,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents, k)
        |      AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY seg) AS n
        |  FROM base WHERE cents > 0),
        |agg AS (
        |  SELECT seg, CAST(MAX(n) AS BIGINT) AS n_pos,
        |    SUM((2 * i - n - 1) * cents) AS num,
        |    SUM(cents) AS mass
        |  FROM pos GROUP BY seg),
        |alln AS (
        |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_all
        |  FROM base GROUP BY seg)
        |SELECT agg.seg, n_all, n_pos,
        |  round(CAST(num AS DOUBLE) /
        |    (CAST(n_pos AS DOUBLE) * CAST(mass AS DOUBLE)), 9) AS gini
        |FROM agg JOIN alln ON agg.seg = alln.seg
        |ORDER BY agg.seg""".stripMargin,

    // total-order ranks on both variables; exact d-squared sums
    "q_spearman" ->
      """WITH j AS (
        |  SELECT c_mktsegment AS seg, o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |ranked AS (
        |  SELECT seg,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY seg ORDER BY x, k)
        |      AS BIGINT) AS rx,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY seg ORDER BY y, k)
        |      AS BIGINT) AS ry
        |  FROM j)
        |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(1.0 - 6.0 * CAST(SUM((rx - ry) * (rx - ry)) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) *
        |     (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) - 1.0)),
        |    9) AS spearman_rho
        |FROM ranked GROUP BY seg ORDER BY seg""".stripMargin,

    // two unrolled HITS rounds, HUGEINT sums, integer floor-divide
    // normalization — the Spark fixed-point arithmetic restated
    "q_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |h0 AS (SELECT DISTINCT c, CAST(1000000000 AS HUGEINT) AS h FROM e),
        |a1r AS (SELECT sp, SUM(h) AS ar FROM e JOIN h0 USING (c) GROUP BY sp),
        |a1 AS (SELECT sp, (ar * 1000000000) // (SELECT max(ar) FROM a1r)
        |       AS a FROM a1r),
        |h1r AS (SELECT c, SUM(a) AS hr FROM e JOIN a1 USING (sp) GROUP BY c),
        |h1 AS (SELECT c, (hr * 1000000000) // (SELECT max(hr) FROM h1r)
        |       AS h FROM h1r),
        |a2r AS (SELECT sp, SUM(h) AS ar FROM e JOIN h1 USING (c) GROUP BY sp),
        |a2 AS (SELECT sp, (ar * 1000000000) // (SELECT max(ar) FROM a2r)
        |       AS a FROM a2r),
        |h2r AS (SELECT c, SUM(a) AS hr FROM e JOIN a2 USING (sp) GROUP BY c),
        |h2 AS (SELECT c, (hr * 1000000000) // (SELECT max(hr) FROM h2r)
        |       AS h FROM h2r),
        |tops AS (
        |  SELECT * FROM (
        |    SELECT 's' || CAST(sp AS VARCHAR) AS node,
        |      'authority' AS kind,
        |      round(CAST(a AS DOUBLE) / 1000000000.0, 9) AS score
        |    FROM a2 ORDER BY score DESC, node LIMIT 15)
        |  UNION ALL
        |  SELECT * FROM (
        |    SELECT 'c' || CAST(c AS VARCHAR) AS node, 'hub' AS kind,
        |      round(CAST(h AS DOUBLE) / 1000000000.0, 9) AS score
        |    FROM h2 ORDER BY score DESC, node LIMIT 15))
        |SELECT node, kind, score FROM tops
        |ORDER BY kind, score DESC, node""".stripMargin,

    // basket cap + cosine + per-item rank restated term-for-term
    "q_item_cf" -> itemCfOracle(),

    "q_window_lag" ->
      """SELECT event_id, user_id,
        |  CAST(CAST(value AS DECIMAL(12,2)) -
        |       COALESCE(LAG(CAST(value AS DECIMAL(12,2))) OVER w, CAST(0 AS DECIMAL(12,2)))
        |       AS DOUBLE) AS delta,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2)))
        |       OVER (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 30 * 60 * 1000000 THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_group_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_winsorize" ->
      """WITH b AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.05), 6) AS lo,
        |    round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  ANY_VALUE(lo) AS lo, ANY_VALUE(hi) AS hi,
        |  CAST(SUM(CAST(least(greatest(value, lo), hi) AS DECIMAL(18,6)))
        |       AS DOUBLE) AS wsum
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type ORDER BY event_type""".stripMargin,

    "q_profile" ->
      """SELECT 'event_id' AS "column", COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  COUNT(DISTINCT event_id) AS n_distinct,
        |  CAST(MIN(event_id) AS VARCHAR) AS min_v,
        |  CAST(MAX(event_id) AS VARCHAR) AS max_v
        |FROM events
        |UNION ALL
        |SELECT 'user_id', COUNT(*),
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT user_id),
        |  CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
        |FROM events
        |UNION ALL
        |SELECT 'event_type', COUNT(*),
        |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT event_type),
        |  CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
        |FROM events
        |ORDER BY "column"""".stripMargin,

    "q_histogram" ->
      """SELECT event_type, CAST(FLOOR(value / 10) AS BIGINT) AS bin,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin,

    "q_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
        |              >= 30 * 60 * 1000000 THEN 1
        |         ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |  MIN(epoch_us(ts)) AS start_us,
        |  MAX(epoch_us(ts)) + 30 * 60 * 1000000 AS end_us,
        |  COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    "q_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id)
        |SELECT c.cohort_week, e.week - c.cohort_week AS weeks_since,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY c.cohort_week, e.week - c.cohort_week
        |ORDER BY cohort_week, weeks_since""".stripMargin,

    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |  COUNT(*) AS n_users,
        |  CAST(SUM(t1) // 1000000000000 AS BIGINT) AS sum_us_hi,
        |  CAST(SUM(t1) % 1000000000000 AS BIGINT) AS sum_us_lo FROM s1
        |UNION ALL SELECT 2, 'click', COUNT(*),
        |  CAST(SUM(t2) // 1000000000000 AS BIGINT),
        |  CAST(SUM(t2) % 1000000000000 AS BIGINT) FROM s2
        |UNION ALL SELECT 3, 'purchase', COUNT(*),
        |  CAST(SUM(t3) // 1000000000000 AS BIGINT),
        |  CAST(SUM(t3) % 1000000000000 AS BIGINT) FROM s3
        |ORDER BY step""".stripMargin,

    "q_pagerank" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |p0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS p FROM n),
        |c1 AS (
        |  SELECT e.dst AS node, SUM(p0.p // deg.od) AS s
        |  FROM e JOIN deg USING (src) JOIN p0 ON p0.node = e.src
        |  GROUP BY e.dst),
        |p1 AS (
        |  SELECT n.node,
        |    CAST(150000000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS p
        |  FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (
        |  SELECT e.dst AS node, SUM(p1.p // deg.od) AS s
        |  FROM e JOIN deg USING (src) JOIN p1 ON p1.node = e.src
        |  GROUP BY e.dst),
        |p2 AS (
        |  SELECT n.node,
        |    CAST(150000000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS p
        |  FROM n LEFT JOIN c2 USING (node))
        |SELECT node, round(CAST(p AS DOUBLE) / 1000000000.0, 9) AS pr
        |FROM p2 ORDER BY pr DESC, node LIMIT 30""".stripMargin,

    // same packed-long trade graph as q_pagerank, three unrolled
    // rounds, same (cnt DESC, lab ASC) argmax tie order
    "q_label_propagation" ->
      s"""WITH $lpaLabelsDuck
        |SELECT CASE WHEN lab % 2 = 0 THEN 'c' || CAST(lab // 2 AS VARCHAR)
        |            ELSE 's' || CAST(lab // 2 AS VARCHAR) END AS community,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_customers,
        |  CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_suppliers
        |FROM l3 GROUP BY lab
        |ORDER BY n_nodes DESC, community LIMIT 25""".stripMargin,

    // same LPA CTE chain, then Newman's per-community Q terms on the
    // labeled directed edge frame
    "q_modularity" ->
      s"""WITH $lpaLabelsDuck,
        |el AS (SELECT ls.lab AS slab, ld.lab AS dlab
        |       FROM e JOIN l3 ls ON ls.node = e.src
        |              JOIN l3 ld ON ld.node = e.dst),
        |perc AS (SELECT slab AS lab,
        |           CAST(COUNT(*) AS BIGINT) AS deg_sum,
        |           CAST(SUM(CASE WHEN slab = dlab THEN 1 ELSE 0 END)
        |                AS BIGINT) AS intra_dir
        |         FROM el GROUP BY slab),
        |nn AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |       FROM l3 GROUP BY lab),
        |tot AS (SELECT CAST(SUM(deg_sum) AS BIGINT) AS m2 FROM perc)
        |SELECT CASE WHEN lab % 2 = 0 THEN 'c' || CAST(lab // 2 AS VARCHAR)
        |            ELSE 's' || CAST(lab // 2 AS VARCHAR) END AS community,
        |  n_nodes, intra_dir, deg_sum,
        |  ROUND(CAST(intra_dir AS DOUBLE) / m2 -
        |        (CAST(deg_sum AS DOUBLE) / m2) *
        |        (CAST(deg_sum AS DOUBLE) / m2), 9) AS q_contrib
        |FROM perc JOIN nn USING (lab), tot
        |ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin,

    // same 8×-thinned co-occurrence graph, same (degree, id) packed
    // orientation, same low-end wedge enumeration
    "q_triangles" ->
      s"""WITH $partTrianglesDuck
        |SELECT part, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        |  SELECT a AS part FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) x
        |GROUP BY part ORDER BY n_tri DESC, part LIMIT 10""".stripMargin,

    // same distinct (order, part) base, same single-division lift
    "q_assoc_rules" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
        |item AS (
        |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS supp FROM li GROUP BY pk),
        |pair AS (
        |  SELECT a.pk AS u, b.pk AS v, CAST(COUNT(*) AS BIGINT) AS supp_ab
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2)
        |SELECT u, v, supp_ab, ia.supp AS supp_a, ib.supp AS supp_b,
        |  CAST(supp_ab * n.n_orders AS DOUBLE) /
        |    CAST(ia.supp * ib.supp AS DOUBLE) AS lift
        |FROM pair
        |JOIN item ia ON pair.u = ia.pk
        |JOIN item ib ON pair.v = ib.pk
        |CROSS JOIN n
        |ORDER BY lift DESC, u, v LIMIT 15""".stripMargin,

    "q_rolling_dau" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |contrib AS (
        |  SELECT user_id, unnest(range(day, day + 7)) AS win_day FROM e),
        |days AS (SELECT DISTINCT day AS win_day FROM e)
        |SELECT win_day, COUNT(DISTINCT user_id) AS active_users_7d
        |FROM contrib JOIN days USING (win_day)
        |GROUP BY win_day ORDER BY win_day""".stripMargin,

    // same zero-filled grid, same integer-moment z
    "q_burst_detect" ->
      s"""WITH $burstMomentsDuck
        |SELECT f.event_type, f.day, f.cnt,
        |  CASE WHEN nd * s2 - s1 * s1 > 0 THEN
        |    round(CAST(nd * cnt - s1 AS DOUBLE) /
        |      sqrt(CAST(nd * s2 - s1 * s1 AS DOUBLE)), 9) END AS z,
        |  CASE WHEN (CASE WHEN nd * s2 - s1 * s1 > 0 THEN
        |      round(CAST(nd * cnt - s1 AS DOUBLE) /
        |        sqrt(CAST(nd * s2 - s1 * s1 AS DOUBLE)), 9) END) >= 2.0
        |    THEN TRUE ELSE FALSE END AS is_burst
        |FROM f JOIN m USING (event_type)
        |ORDER BY event_type, day""".stripMargin,

    "q_event_transitions" ->
      """SELECT event_type, next_type, COUNT(*) AS n FROM (
        |  SELECT event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type
        |ORDER BY event_type, next_type""".stripMargin,

    "q_window_rank" ->
      """SELECT event_id, event_type, value,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
        |  round(PERCENT_RANK() OVER w, 9) AS prk,
        |  round(CUME_DIST() OVER w, 9) AS cd,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,

    "q_grouping_sets" ->
      """SELECT event_type, ubucket,
        |  CAST(GROUPING(event_type, ubucket) AS BIGINT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM (SELECT event_type, user_id % 10 AS ubucket, value FROM events) t
        |GROUP BY GROUPING SETS ((event_type, ubucket), (event_type), ())
        |ORDER BY gid, event_type NULLS FIRST, ubucket NULLS FIRST""".stripMargin,

    "q_gap_fill" ->
      """WITH e AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us, value
        |  FROM events),
        |b AS (SELECT MIN(hour_us) AS lo, MAX(hour_us) AS hi FROM e),
        |grid AS (
        |  SELECT t.event_type,
        |    unnest(generate_series(b.lo, b.hi, 3600000000)) AS hour_us
        |  FROM (SELECT DISTINCT event_type FROM e) t, b),
        |agg AS (
        |  SELECT event_type, hour_us, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |  FROM e GROUP BY event_type, hour_us)
        |SELECT g.event_type, g.hour_us,
        |  COALESCE(a.n, 0) AS n,
        |  COALESCE(a.total, CAST(0 AS DOUBLE)) AS total
        |FROM grid g LEFT JOIN agg a USING (event_type, hour_us)
        |ORDER BY g.event_type, g.hour_us""".stripMargin,

    "q_stats_exact" ->
      """SELECT event_type, COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vsum,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS vavg,
        |  (CAST(SUM(CAST(value * value AS DECIMAL(20,4))) AS DOUBLE) -
        |   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) *
        |   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)) /
        |  NULLIF(COUNT(*) - 1, 0) AS vvar,
        |  quantile_cont(value, 0.5) AS vmedian
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_outliers" ->
      """WITH m AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS mean,
        |    sqrt((CAST(SUM(CAST(value * value AS DECIMAL(20,4))) AS DOUBLE)
        |          - CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
        |            * CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
        |         / NULLIF(COUNT(*) - 1, 0)) AS std
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value,
        |  round((value - mean) / NULLIF(std, 0), 9) AS z
        |FROM events e JOIN m USING (event_type)
        |WHERE abs(round((value - mean) / NULLIF(std, 0), 9)) >= 3.0
        |ORDER BY event_id""".stripMargin,

    "q_nested_explode" ->
      """WITH items AS (
        |  SELECT l_orderkey,
        |    list_sort(list({'ln': CAST(l_linenumber AS BIGINT), 'qty': l_quantity})) AS items
        |  FROM lineitem WHERE l_orderkey % 100 = 0
        |  GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(generate_subscripts(items, 1) AS BIGINT) AS pos,
        |  unnest(items).ln AS ln,
        |  unnest(items).qty AS qty
        |FROM items
        |ORDER BY l_orderkey, pos""".stripMargin,

    "q_count_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS uniq_users, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_salted_agg" ->
      """SELECT user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_merge_timestamps" ->
      """WITH target AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    epoch_us(o_orderdate) AS created_us, epoch_us(o_orderdate) AS updated_us
        |  FROM orders),
        |updates AS (
        |  SELECT o_orderkey, 'U' AS u_status,
        |    epoch_us(o_orderdate + INTERVAL 1 DAY) AS u_updated
        |  FROM orders WHERE o_orderstatus = 'O')
        |SELECT t.o_orderkey,
        |  COALESCE(u.u_status, t.o_orderstatus) AS o_orderstatus,
        |  t.created_us,
        |  COALESCE(u.u_updated, t.updated_us) AS updated_us
        |FROM target t LEFT JOIN updates u ON t.o_orderkey = u.o_orderkey
        |ORDER BY t.o_orderkey""".stripMargin,

    // same exact integer/DECIMAL moment sums, same double arithmetic
    // over them with identical parenthesization
    "q_regression" ->
      """WITH base AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS x,
        |    CAST(value AS DECIMAL(12,2)) AS y
        |  FROM events),
        |sums AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    SUM(y) AS sy,
        |    SUM(CAST(CAST(x AS DECIMAL(10,0)) * y AS DECIMAL(28,2))) AS sxy,
        |    SUM(CAST(y * y AS DECIMAL(20,4))) AS syy
        |  FROM base GROUP BY event_type)
        |SELECT event_type, n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 THEN
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
        |  END AS slope,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0 THEN
        |    round((CAST(sy AS DOUBLE)
        |           - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |             * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE), 9)
        |  END AS intercept,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
        |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <> 0 THEN
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
        |  END AS r2
        |FROM sums ORDER BY event_type""".stripMargin,

    // per-column stats restated as a UNION (the oracle need not share
    // the one-pass Expand plan, only the numbers)
    "q_table_stats" ->
      Seq("l_discount", "l_extendedprice", "l_orderkey", "l_quantity")
        .map(c =>
          s"""SELECT '$c' AS column_name,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_null,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
             |  CAST(MIN($c) AS DOUBLE) AS vmin,
             |  CAST(MAX($c) AS DOUBLE) AS vmax
             |FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    // same 8×-thinned co-occurrence graph; the peel loop is unrolled
    // to the SAME 20-round backstop the Spark side enforces (peeling
    // is monotone, so extra rounds past the fixpoint are identity).
    // MATERIALIZED pins each round to evaluate once (each is
    // referenced 3× by the next).
    "q_kcore" -> {
      val rounds = (1 to KCORE_MAX_ROUNDS).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT n FROM (SELECT u AS n FROM r${i - 1}
           |                 UNION ALL SELECT v FROM r${i - 1}) t
           |  GROUP BY n HAVING COUNT(*) >= $KCORE_K),
           |r$i AS MATERIALIZED (
           |  SELECT e.u, e.v FROM r${i - 1} e
           |  JOIN d$i ku ON e.u = ku.n
           |  JOIN d$i kv ON e.v = kv.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH $partLiDuck,
         |r0 AS MATERIALIZED (
         |  SELECT DISTINCT a.pk AS u, b.pk AS v
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |$rounds
         |SELECT part, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
         |  SELECT u AS part FROM r$KCORE_MAX_ROUNDS
         |  UNION ALL SELECT v FROM r$KCORE_MAX_ROUNDS) x
         |GROUP BY part ORDER BY part""".stripMargin
    },

    // same graph, same (degree DESC, node) hub order, BFS unrolled to
    // the same hop cap (extra rounds past exhaustion add nothing: the
    // frontier stays empty)
    "q_bfs_distance" -> {
      val rounds = (1 to BFS_MAX_HOPS).map { i =>
        s"""f$i AS MATERIALIZED (
           |  SELECT DISTINCT s.dst AS node
           |  FROM f${i - 1} f JOIN sym s ON f.node = s.src
           |  WHERE s.dst NOT IN (SELECT node FROM d${i - 1})),
           |d$i AS MATERIALIZED (
           |  SELECT * FROM d${i - 1}
           |  UNION ALL SELECT node, CAST($i AS BIGINT) FROM f$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH $partSymDuck,
         |deg AS (SELECT src AS node, COUNT(*) AS dg FROM sym GROUP BY src),
         |hubs AS (SELECT node FROM deg ORDER BY dg DESC, node LIMIT $BFS_HUBS),
         |d0 AS MATERIALIZED (
         |  SELECT node, CAST(0 AS BIGINT) AS dist FROM hubs),
         |f0 AS (SELECT node FROM d0),
         |$rounds
         |SELECT node, dist FROM d$BFS_MAX_HOPS ORDER BY node""".stripMargin
    },

    // Unrolled Bellman-Ford, one (relax → strict-improve → merge)
    // block per hop, same (u+v)%9+1 weights and distance budget.
    "q_sssp" -> {
      val rounds = (1 to SSSP_MAX_HOPS).map { i =>
        s"""rx$i AS MATERIALIZED (
           |  SELECT s.dst AS node, MIN(f.dist + s.wt) AS cand
           |  FROM f${i - 1} f JOIN sym s ON f.node = s.src
           |  WHERE f.dist + s.wt <= $SSSP_DIST_CAP
           |  GROUP BY s.dst),
           |f$i AS MATERIALIZED (
           |  SELECT r.node, r.cand AS dist
           |  FROM rx$i r LEFT JOIN d${i - 1} p ON r.node = p.node
           |  WHERE p.node IS NULL OR r.cand < p.dist),
           |d$i AS MATERIALIZED (
           |  SELECT node, dist FROM d${i - 1}
           |  WHERE node NOT IN (SELECT node FROM f$i)
           |  UNION ALL SELECT node, dist FROM f$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH $partGraphDuck,
         |sym AS MATERIALIZED (
         |  SELECT u AS src, v AS dst, (u + v) % 9 + 1 AS wt FROM raw
         |  UNION ALL SELECT v, u, (u + v) % 9 + 1 FROM raw),
         |deg AS (SELECT src AS node, COUNT(*) AS dg FROM sym GROUP BY src),
         |hubs AS (SELECT node FROM deg ORDER BY dg DESC, node LIMIT $BFS_HUBS),
         |d0 AS MATERIALIZED (
         |  SELECT node, CAST(0 AS BIGINT) AS dist FROM hubs),
         |f0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM d0),
         |$rounds
         |SELECT node, dist FROM d$SSSP_MAX_HOPS ORDER BY node""".stripMargin
    },

    // tap-for-tap the same integer-unit kernel over the same
    // (ts, event_id)-ordered user window; one double division at the
    // end, correctly rounded identically to the Spark side
    "q_ewma" -> {
      val taps = (0 until EWMA_TAPS).map { j =>
        s"COALESCE(lag(cents, $j) OVER w, 0) * ${1L << (EWMA_TAPS - 1 - j)}"
      }.mkString(" +\n        |    ")
      s"""WITH ev AS (
         |  SELECT event_id, user_id, ts, CAST(value AS DECIMAL(12,2)) AS v,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |  FROM events)
         |SELECT event_id, user_id, CAST(v AS DOUBLE) AS value,
         |  CAST($taps AS DOUBLE) / ${(100L << (EWMA_TAPS - 1)).toDouble} AS ewma
         |FROM ev
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY event_id""".stripMargin
    },

    // same middle-keyed evidence join, same cap, same round-9 DECIMAL
    // Adamic-Adar sum, same ≥2 evidence floor and edge anti-join
    "q_link_predict" ->
      s"""WITH $partSymDuck,
         |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
         |inc AS (
         |  SELECT s.dst AS m, d.deg AS dm, s.src AS e
         |  FROM sym s JOIN deg d ON s.dst = d.src
         |  WHERE d.deg <= $LP_MID_CAP),
         |scored AS (
         |  SELECT a.e AS a, b.e AS b, COUNT(*) AS cn,
         |    CAST(SUM(CAST(round(1.0 / ln(CAST(a.dm AS DOUBLE)), 9)
         |      AS DECIMAL(24,9))) AS DOUBLE) AS adamic_adar
         |  FROM inc a JOIN inc b ON a.m = b.m AND a.e < b.e
         |  GROUP BY a.e, b.e
         |  HAVING COUNT(*) >= 2)
         |SELECT s.a, s.b, s.cn,
         |  round(CAST(s.cn AS DOUBLE) / (da.deg + db.deg - s.cn), 9)
         |    AS jaccard,
         |  s.adamic_adar
         |FROM scored s
         |JOIN deg da ON da.src = s.a
         |JOIN deg db ON db.src = s.b
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM raw r WHERE r.u = s.a AND r.v = s.b)
         |ORDER BY s.a, s.b""".stripMargin,

    // same cell grid and margins, same round-9 DECIMAL folds, same
    // first-cell-of-margin entropy trick
    "q_mutual_info" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events),
        |rng AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM ev),
        |cells AS (
        |  SELECT event_type,
        |    LEAST(9, CAST(FLOOR((v - lo) * 10 / (hi - lo)) AS BIGINT)) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ev, rng GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, bin, c,
        |    CAST(SUM(c) OVER () AS DOUBLE) AS n,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS DOUBLE) AS cr,
        |    CAST(SUM(c) OVER (PARTITION BY bin) AS DOUBLE) AS cc,
        |    row_number() OVER (PARTITION BY event_type ORDER BY bin) AS rr,
        |    row_number() OVER (PARTITION BY bin ORDER BY event_type) AS rc
        |  FROM cells),
        |u AS (
        |  SELECT event_type, bin, c,
        |    round((CAST(c AS DOUBLE) / n) *
        |      ln((CAST(c AS DOUBLE) / n) / ((cr / n) * (cc / n))), 9)
        |      AS contrib,
        |    CASE WHEN rr = 1 THEN round(-(cr / n) * ln(cr / n), 9)
        |         ELSE 0.0 END AS hx_t,
        |    CASE WHEN rc = 1 THEN round(-(cc / n) * ln(cc / n), 9)
        |         ELSE 0.0 END AS hy_t
        |  FROM t),
        |agg AS (
        |  SELECT CAST(SUM(CAST(contrib AS DECIMAL(24,9))) AS DOUBLE) AS mi,
        |    CAST(SUM(CAST(hx_t AS DECIMAL(24,9))) AS DOUBLE) AS hx,
        |    CAST(SUM(CAST(hy_t AS DECIMAL(24,9))) AS DOUBLE) AS hy
        |  FROM u)
        |SELECT u.event_type, u.bin, u.c, u.contrib, agg.mi,
        |  round(agg.mi / sqrt(agg.hx * agg.hy), 9) AS nmi
        |FROM u, agg ORDER BY event_type, bin""".stripMargin,

    // same integer cohort counts, same z=1.96 bound expression, same
    // (score desc, cohort) rank order
    "q_wilson_rank" ->
      """WITH c AS (
        |  SELECT user_id % 20 AS cohort,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_views,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchases
        |  FROM events GROUP BY 1),
        |c2 AS (
        |  SELECT cohort, n_views + n_purchases AS n_trials, n_purchases
        |  FROM c),
        |s AS (
        |  SELECT cohort, n_trials, n_purchases,
        |    round(CAST(n_purchases AS DOUBLE) / CAST(n_trials AS DOUBLE), 9)
        |      AS naive_rate,
        |    round((CAST(n_purchases AS DOUBLE) / CAST(n_trials AS DOUBLE)
        |        + (1.96 * 1.96) / (2.0 * CAST(n_trials AS DOUBLE))
        |        - 1.96 * sqrt(
        |            (CAST(n_purchases AS DOUBLE) / CAST(n_trials AS DOUBLE)) *
        |            (1.0 - CAST(n_purchases AS DOUBLE) / CAST(n_trials AS DOUBLE))
        |              / CAST(n_trials AS DOUBLE)
        |            + (1.96 * 1.96) /
        |              (4.0 * CAST(n_trials AS DOUBLE) * CAST(n_trials AS DOUBLE))))
        |      / (1.0 + (1.96 * 1.96) / CAST(n_trials AS DOUBLE)), 9)
        |      AS wilson_low
        |  FROM c2 WHERE n_trials > 0)
        |SELECT cohort, n_trials, n_purchases, naive_rate, wilson_low,
        |  CAST(row_number() OVER (ORDER BY wilson_low DESC, cohort)
        |    AS BIGINT) AS rank
        |FROM s ORDER BY rank""".stripMargin,

    // same hourly grid, same h-24 equi-shift, same exact-integer
    // metric arithmetic
    "q_forecast_eval" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 3600000000) AS BIGINT)
        |      AS h,
        |    CAST(COUNT(*) AS BIGINT) AS a
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT c.event_type, c.a, p.a AS fc, abs(c.a - p.a) AS abs_err,
        |    round(2.0 * abs(c.a - p.a) / (c.a + p.a), 9) AS smape_t
        |  FROM hourly c JOIN hourly p
        |    ON c.event_type = p.event_type AND c.h = p.h + 24)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |  round(CAST(SUM(abs_err) AS DOUBLE) / COUNT(*), 9) AS mae,
        |  round(CAST(SUM(CAST(smape_t AS DECIMAL(24,9))) AS DOUBLE) /
        |    COUNT(*), 9) AS smape
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same 30-min session gap, same (ts, event_id) path order, same
    // (count desc, path) tie-break on the top-10 cut
    "q_session_paths" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 THEN 1
        |                 WHEN lag(us) OVER w IS NULL THEN 1
        |                 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s),
        |p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY us, event_id) AS path,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM s2 GROUP BY 1, 2)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(conv) AS BIGINT) AS n_converting,
        |  round(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 9) AS conv_rate
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin,

    // same exact integer moments over the same 15-row frame, same
    // single double expression, same n>=8 and positive-variance gates
    "q_zscore_anomaly" ->
      s"""WITH ev AS (
         |  SELECT event_id, user_id, ts,
         |    CAST(value AS DECIMAL(12,2)) AS v,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |  FROM events),
         |m AS (
         |  SELECT event_id, user_id, v, cents,
         |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
         |    CAST(SUM(cents) OVER w AS BIGINT) AS sx,
         |    CAST(SUM(cents * cents) OVER w AS BIGINT) AS sxx
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN ${ZSCORE_WIN - 1} PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, CAST(v AS DOUBLE) AS value,
         |  CASE WHEN n >= $ZSCORE_MIN_N
         |        AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
         |    THEN round((CAST(n AS DOUBLE) * cents - sx) /
         |      (CAST(n AS DOUBLE) * sqrt(
         |        (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) /
         |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))), 9)
         |  END AS z,
         |  COALESCE(CASE WHEN n >= $ZSCORE_MIN_N
         |        AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
         |    THEN abs(round((CAST(n AS DOUBLE) * cents - sx) /
         |      (CAST(n AS DOUBLE) * sqrt(
         |        (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) /
         |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))), 9)) > 3.0
         |  END, false) AS anomaly
         |FROM m ORDER BY event_id""".stripMargin,

    // same global min/max edges, same half split, same 1e-6 share
    // floor, same round-9 DECIMAL contribution sum
    // same grid CDFs, same common-denominator integer terms
    "q_wasserstein" ->
      """WITH doc AS (SELECT source, n_chars AS x FROM documents),
        |c AS (
        |  SELECT source, x, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM doc GROUP BY source, x),
        |grid AS (
        |  SELECT x,
        |    CAST(SUM(cnt_all) OVER (ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all,
        |    lead(x) OVER (ORDER BY x) - x AS dx
        |  FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt_all
        |        FROM doc GROUP BY x)),
        |srcs AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM doc GROUP BY source),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM doc),
        |filled AS (
        |  SELECT s.source, s.n_src, g.x, g.cum_all, g.dx, n_all,
        |    CAST(SUM(COALESCE(c.cnt, 0)) OVER (PARTITION BY s.source
        |      ORDER BY g.x ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum_src
        |  FROM srcs s CROSS JOIN grid g CROSS JOIN tot
        |  LEFT JOIN c ON c.source = s.source AND c.x = g.x)
        |SELECT source, n_src, n_all - n_src AS n_rest,
        |  round(CAST(SUM(CAST(abs(cum_src * (n_all - n_src) -
        |      (cum_all - cum_src) * n_src) * COALESCE(dx, 0)
        |      AS DECIMAL(38,0))) AS DOUBLE) /
        |    (CAST(n_src AS DOUBLE) * CAST(n_all - n_src AS DOUBLE)), 9)
        |    AS w1
        |FROM filled GROUP BY source, n_src, n_all ORDER BY source""".stripMargin,

    "q_psi_drift" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events),
        |rng AS (
        |  SELECT MIN(us) AS lo_us, MAX(us) AS hi_us,
        |    MIN(v) AS lo_v, MAX(v) AS hi_v FROM ev),
        |cells AS (
        |  SELECT event_type,
        |    CASE WHEN hi_v = lo_v THEN 0
        |         ELSE LEAST(9, CAST(FLOOR((v - lo_v) * 10 / (hi_v - lo_v))
        |           AS BIGINT)) END AS bin,
        |    CAST(SUM(CASE WHEN us * 2 <= lo_us + hi_us THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ref,
        |    CAST(SUM(CASE WHEN us * 2 <= lo_us + hi_us THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_cur
        |  FROM ev, rng GROUP BY 1, 2),
        |sh AS (
        |  SELECT event_type, bin, n_ref, n_cur,
        |    GREATEST(CAST(n_ref AS DOUBLE) /
        |      CAST(SUM(n_ref) OVER (PARTITION BY event_type) AS DOUBLE),
        |      1e-6) AS p,
        |    GREATEST(CAST(n_cur AS DOUBLE) /
        |      CAST(SUM(n_cur) OVER (PARTITION BY event_type) AS DOUBLE),
        |      1e-6) AS q
        |  FROM cells)
        |SELECT event_type, bin, n_ref, n_cur,
        |  round((p - q) * ln(p / q), 9) AS contrib,
        |  CAST(SUM(CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(24,9)))
        |    OVER (PARTITION BY event_type) AS DOUBLE) AS psi
        |FROM sh ORDER BY event_type, bin""".stripMargin,

    // the DEFINITION itself: dominance as a NOT-EXISTS pair predicate
    // (fine at oracle scale; the Spark plan never forms pairs)
    "q_skyline" ->
      """WITH p AS (
        |  SELECT p_partkey, CAST(p_retailprice AS DECIMAL(12,2)) AS price,
        |    CAST(p_size AS BIGINT) AS psize
        |  FROM part)
        |SELECT p_partkey, CAST(price AS DOUBLE) AS price, psize
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price <= a.price AND b.psize >= a.psize
        |    AND (b.price < a.price OR b.psize > a.psize))
        |ORDER BY p_partkey""".stripMargin,

    // same grid pass, same ROWS frame (grid keys are unique, so ROWS
    // ≡ RANGE), same single round-9 division
    "q_cdf_normalize" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events),
        |grid AS (
        |  SELECT event_type, v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |cdf AS (
        |  SELECT event_type, v,
        |    round(CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS DOUBLE) /
        |          SUM(c) OVER (PARTITION BY event_type), 9) AS ecdf
        |  FROM grid)
        |SELECT e.event_id, e.event_type, CAST(e.v AS DOUBLE) AS value,
        |  c.ecdf
        |FROM ev e JOIN cdf c ON e.event_type = c.event_type AND e.v = c.v
        |ORDER BY event_id""".stripMargin,

    // same strictly-preceding frame, same (ts, event_id) tie-break,
    // same 7-day lookback in epoch microseconds
    "q_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER w AS last_click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
        |      IGNORE NULLS) OVER w AS last_click_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id,
        |  CASE WHEN epoch_us(ts) - last_click_us <= CAST(7 AS BIGINT) * 86400 * 1000000
        |       THEN last_click_id END AS attributed_click,
        |  (CASE WHEN epoch_us(ts) - last_click_us <= CAST(7 AS BIGINT) * 86400 * 1000000
        |        THEN last_click_id END) IS NOT NULL AS attributed
        |FROM ev WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // Unrolled walk steps; the step hash re-derives the same 8-hex
    // md5 prefix integer via the nibble fold.
    "q_random_walks" -> {
      def hex8(arg: String): String =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |  list_transform(range(1, 9), p ->
           |    CAST(strpos('0123456789abcdef', substring(md5($arg), p, 1)) - 1
           |         AS BIGINT))), (a, x) -> a * 16 + x)""".stripMargin
      val steps = (1 to WALK_STEPS).map { k =>
        s"""w$k AS MATERIALIZED (
           |  SELECT s.walk, a.dst AS cur
           |  FROM w${k - 1} s
           |  JOIN deg d ON s.cur = d.src
           |  JOIN adj a ON a.src = s.cur AND a.pos =
           |    (${hex8(s"CAST(s.cur AS VARCHAR) || ':$k'")}) % d.deg + 1)"""
          .stripMargin
      }.mkString(",\n")
      val trace = (0 to WALK_STEPS).map { k =>
        s"SELECT walk, CAST($k AS BIGINT) AS step, cur AS node FROM w$k"
      }.mkString("\nUNION ALL ")
      s"""WITH $partSymDuck,
         |adj AS MATERIALIZED (
         |  SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) AS pos
         |  FROM sym),
         |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
         |w0 AS MATERIALIZED (
         |  SELECT src AS walk, src AS cur FROM deg
         |  WHERE src % $WALK_START_MOD = 0),
         |$steps
         |$trace
         |ORDER BY walk, step""".stripMargin
    },

    // same day-number dow, same unrounded margins feeding the per-cell
    // doubles, same DECIMAL(24,9) total over round-9 contributions
    "q_chi_square" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS dow
        |  FROM events),
        |cells AS (
        |  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM ev GROUP BY event_type, dow),
        |t AS (
        |  SELECT event_type, dow, o,
        |    CAST(SUM(o) OVER (PARTITION BY event_type) AS DOUBLE) *
        |    CAST(SUM(o) OVER (PARTITION BY dow) AS DOUBLE) /
        |    CAST(SUM(o) OVER () AS DOUBLE) AS e_raw
        |  FROM cells),
        |u AS (
        |  SELECT event_type, dow, o, e_raw,
        |    (CAST(o AS DOUBLE) - e_raw) * (CAST(o AS DOUBLE) - e_raw)
        |      / e_raw AS c_raw
        |  FROM t)
        |SELECT event_type, dow, o,
        |  round(e_raw, 9) AS expected,
        |  round(c_raw, 9) AS contrib,
        |  CAST(SUM(CAST(round(c_raw, 9) AS DECIMAL(24,9))) OVER ()
        |       AS DOUBLE) AS chi2
        |FROM u ORDER BY event_type, dow""".stripMargin,

    // same integer 2^(10-k) factor (bit shift), same exact DECIMAL
    // term sum, same single final /1024 in double
    "q_decay_score" ->
      """WITH ref AS (SELECT MAX(ts) AS ref FROM events),
        |t AS (
        |  SELECT user_id,
        |    LEAST(date_diff('day', CAST(ts AS DATE), CAST(ref AS DATE)) // 7,
        |          10) AS wk,
        |    CAST(value AS DECIMAL(12,2)) AS y
        |  FROM events, ref)
        |SELECT user_id,
        |  round(CAST(SUM(CAST(y * (1 << CAST(10 - wk AS INTEGER))
        |                      AS DECIMAL(26,2))) AS DOUBLE) / 1024.0, 9)
        |    AS score
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
