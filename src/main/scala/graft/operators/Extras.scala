package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Set operations, reshaping and temporal-join surface — operators the
  * reference never needed (SURVEY.md §2.5: "no intersect/except
  * anywhere") but a complete engine must offer. The as-of join uses the
  * scalable union+window formulation (one shuffle on the join key, no
  * range cross product) — preference order (a) of the builder brief:
  * compose existing ops when semantics allow.
  */
object Extras extends graft.QueryPack {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** The z-order clustering frame shared by q_zorder_layout and
    * q_zonemap_prune: events keyed by the two clustering dims (user
    * bucket a, day bucket b), their interleaved-bit zkey and the
    * 256-cell zcell. A narrow codegen projection — no shuffle. */
  private def zorderEvents(s: SparkSession, d: String): DataFrame =
    zorderProject(Tables(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts")))

  /** Context length of the q_seq_pack training-sequence layout. */
  private[graft] val PACK_CTX = 128L

  /** (source, doc_id, tok) from a documents frame — whitespace tokens,
    * the q_token_stats kernel (one definition, batch + drain). */
  private[graft] def seqPackToks(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("doc_id"),
      size(TextAnalytics.tokens(col("text"))).cast("long").as("tok"))

  /** The packing kernel: per-source prefix-sum spans OFFSET by `off`
    * (source, off — the tokens already packed before this frame; empty
    * for the batch query, the drain's carried state otherwise), each
    * doc exploded over the ≤ ceil(tok/CTX)+1 sequences it touches,
    * aggregated to per-(source, seq_id) partials. Every partial column
    * is a MONOID (sum/sum/min/max/sum), which is exactly what lets the
    * streaming fold merge a batch's partials into the carried open
    * sequence. */
  /** The seg-level frame under [[seqPackAgg]]: one row per (sequence,
    * doc) overlap with its exact token span — the DATALOADER INDEX
    * (q_seq_manifest reports it directly; the per-seq report
    * aggregates it). */
  private[graft] def seqPackSpans(toks: DataFrame, off: DataFrame): DataFrame = {
    val CTX = PACK_CTX
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    toks
      .join(off, Seq("source"), "left_outer")
      .withColumn("off", coalesce(col("off"), lit(0L)))
      .withColumn("start",
        col("off") + coalesce(sum(col("tok"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("fin", col("start") + col("tok"))
      // zero-token guard (ADVICE r12): a tok=0 doc whose start sits on
      // a CTX boundary would make fin-1 < start and Spark's sequence()
      // emit a DESCENDING phantom pair where DuckDB's range() is
      // empty. Unreachable while tokens() >= 1, but pinned here (and
      // as WHERE tok > 0 in the oracles) so a tokenizer change can't
      // resurface the divergence. The filter sits AFTER the window, so
      // prefix sums are unchanged (tok=0 contributes nothing).
      .filter(col("tok") > 0L)
      .withColumn("seq_id",
        explode(sequence(expr(s"start div $CTX"),
          expr(s"(fin - 1) div $CTX"))))
      .withColumn("seg",
        least(col("fin"), (col("seq_id") + 1) * CTX) -
          greatest(col("start"), col("seq_id") * CTX))
  }

  private[graft] def seqPackAgg(toks: DataFrame, off: DataFrame): DataFrame = {
    val CTX = PACK_CTX
    seqPackSpans(toks, off)
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr(s"start div $CTX") === col("seq_id"), 1L)
          .otherwise(0L)).as("n_doc_starts"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("seg")).as("n_tokens"))
  }

  /** Final report shape over per-seq partials (shared batch/drain). */
  private[graft] def seqPackReport(agg: DataFrame): DataFrame =
    agg
      .withColumn("fill_ratio",
        round(col("n_tokens").cast("double") / PACK_CTX.toDouble, 6))
      .select(col("source"), col("seq_id").cast("long").as("seq_id"),
        col("n_docs"), col("n_doc_starts"), col("first_doc"),
        col("last_doc"), col("n_tokens"), col("fill_ratio"))
      .orderBy(col("source"), col("seq_id"))

  /** The projection half of the z-order kernel, over ANY frame with
    * user_id and ts — batch (zorderEvents) or streaming
    * (q_stream_zonemap maintains zone maps over the event stream with
    * the identical cell definition). Adds a, b, zkey, zcell. */
  private[operators] def zorderProject(df: DataFrame): DataFrame = {
    val ev = df
      .withColumn("a", col("user_id") % 256)
      .withColumn("b", floor(unix_seconds(col("ts")) / 86400) % 256)
    val z = (0 until 8).map(i =>
      shiftleft(shiftright(col("a"), i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(col("b"), i).bitwiseAND(1), 2 * i + 1))
      .reduce(_ + _)
    ev.withColumn("zkey", z.cast("long"))
      .withColumn("zcell", shiftright(col("zkey"), 4).cast("long"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Small-file compaction planning — the OPTIMIZE/auto-compaction
    // step every parquet lakehouse runs: group a table's many small
    // files into rewrite bins of ~TARGET bytes each (next-fit in
    // manifest order: a bin closes when the running size crosses the
    // target, so bins are contiguous doc-id ranges and a rewrite job
    // can stream each bin). The input here is a file MANIFEST — one
    // row per file with its size — which is metadata-scale even for a
    // 100 TB table (file count, not row count); documents stands in
    // with n_chars as the size. The whole plan is one per-source
    // window cumsum over the manifest + a grid aggregation: no
    // driver-side packing loop, and each source's manifest sorts
    // independently (one shuffle on source). Output bins carry their
    // id range so the rewrite is dispatchable as-is.
    "q_compaction_plan" -> ((s, d) => {
      val TARGET = 16384L
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      Tables(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("cum_prev",
          coalesce(sum(col("n_chars"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("bin", expr(s"cum_prev div $TARGET"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bytes"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .withColumn("fill_ratio",
          round(col("bytes").cast("double") / lit(TARGET.toDouble), 6))
        .orderBy(col("source"), col("bin"))
    }),

    // Compaction EXECUTION — closes the plan→act gap in the layout
    // family (VERDICT r11 item 6): each source's bin 0 from the
    // q_compaction_plan manifest is actually REWRITTEN through the
    // graft-objects staged two-phase commit (one compacted object per
    // bin), read back from the committed objects, and gated on
    // CONSERVATION — row count and an ORDER-SENSITIVE content
    // checksum must survive the rewrite bit-for-bit: each record's
    // ordinal within its bin (doc_id rank = payload array index) is
    // folded into the per-record hash on both engines, so a rewrite
    // that reorders records inside the committed object flips the
    // gate even though the summed combine is commutative (ADVICE
    // r12). The oracle
    // restates the pre-image stats from the manifest and pins the
    // post columns as their conserved values (the q_stream_hll
    // constant-contract pattern): a lost row, a truncated payload or
    // a doc remapped across bins flips `conserved` on the Spark side
    // and reds the row. Scale shape: bin membership is a CONTIGUOUS
    // doc-id prefix per source (next-fit in manifest order), so the
    // rewrite input is a (source, id-range) pushed-filter read — the
    // zonemap-prunable scan a 100 TB compactor dispatches per bin;
    // the only driver-side collect is the |sources|-row range
    // manifest (metadata-scale, the compaction job's work list). The
    // payload packs records with US/RS separators (fixture text is
    // printable ASCII; a binary-safe production packer swaps in at
    // the payload expression only).
    "q_compaction_exec" -> ((s, d) => {
      val TARGET = 16384L
      val docs = Tables(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"), col("text"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val ranges = docs
        .withColumn("cum_prev",
          coalesce(sum(col("n_chars"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .filter(expr(s"cum_prev div $TARGET") === 0L)
        .groupBy(col("source"))
        .agg(min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .collect()
      if (ranges.isEmpty)
        // empty manifest → nothing to compact: an empty report with
        // the output schema, not a crash (EmptyInputSpec)
        docs.limit(0).select(col("source"), lit(0L).as("bin"),
          lit(0L).as("n_files_pre"), lit(0L).as("bytes_pre"),
          lit(0L).as("n_objects_post"), lit(0L).as("n_rows_post"),
          lit(0L).as("checksum_pre"), lit(0L).as("checksum_post"),
          lit(false).as("conserved"))
      else {
      val rangeCond = ranges.map(r =>
          col("source") === r.getString(0) &&
            col("doc_id") >= r.getLong(1) && col("doc_id") <= r.getLong(2))
        .reduce(_ || _)
      val US = "\u001f"; val RS = "\u001e"
      // ordinal-aware record hash: pos is the record's rank within its
      // bin (0-based doc_id order = payload array index), so the
      // checksum detects in-object REORDERS, not just content loss
      val chk = (pos: org.apache.spark.sql.Column,
          id: org.apache.spark.sql.Column,
          txt: org.apache.spark.sql.Column) =>
        conv(substring(md5(concat_ws("|", pos, id, txt)), 1, 8), 16, 10)
          .cast("long")
      val binDocs = docs.filter(rangeCond)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_compaction_exec").toFile.getAbsolutePath
      try {
      binDocs
        .groupBy(col("source"))
        .agg(array_sort(collect_list(struct(col("doc_id"), col("text"))))
          .as("recs"))
        .select(concat(col("source"), lit("_bin0")).as("key"),
          array_join(transform(col("recs"), (r, i) =>
            concat_ws(US, i, r.getField("doc_id"), col("source"),
              r.getField("text"))), RS).as("payload"))
        .write.format("graft-objects").mode("overwrite").save(outDir)
      // post-side stats come from the actually-committed objects; the
      // agg is |sources| rows (metadata-scale, like the range
      // manifest), so it is materialized EAGERLY — which lets the temp
      // staging dir be reclaimed right here instead of accumulating
      // /tmp debris across bench/verify runs (ADVICE r12)
      val postRows = s.read.option("lineSep", RS).text(outDir)
        .select(input_file_name().as("obj"),
          // explicit limit -1 keeps trailing empty fields: a record
          // with empty text parses as text="" and hashes identically
          // to the pre-side, not as a spurious conservation failure
          split(col("value"), US, -1).as("f"))
        .select(col("obj"), col("f").getItem(0).cast("long").as("pos"),
          col("f").getItem(1).cast("long").as("doc_id"),
          col("f").getItem(2).as("source"), col("f").getItem(3).as("text"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows_post"),
          countDistinct(col("obj")).as("n_objects_post"),
          sum(chk(col("pos"), col("doc_id"), col("text")))
            .as("checksum_post"))
        .collect().toSeq
      // finally, not just the happy path: a failed write/read must
      // not strand the staging dir either (ADVICE r12)
      import s.implicits._
      val post = postRows
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toDF("source", "n_rows_post", "n_objects_post", "checksum_post")
      val wBin = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      binDocs
        .withColumn("pos", row_number().over(wBin).cast("long") - 1L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_files_pre"),
          sum(col("n_chars")).as("bytes_pre"),
          sum(chk(col("pos"), col("doc_id"), col("text")))
            .as("checksum_pre"))
        .join(post, Seq("source"), "left_outer")
        .select(col("source"), lit(0L).as("bin"), col("n_files_pre"),
          col("bytes_pre"),
          coalesce(col("n_objects_post"), lit(0L)).as("n_objects_post"),
          coalesce(col("n_rows_post"), lit(0L)).as("n_rows_post"),
          col("checksum_pre"),
          coalesce(col("checksum_post"), lit(0L)).as("checksum_post"),
          // coalesced inputs: a missed post join reads as a REAL
          // boolean false, not a NULL (ADVICE r12)
          (coalesce(col("n_rows_post"), lit(0L)) === col("n_files_pre") &&
            coalesce(col("checksum_post"), lit(0L)) ===
              col("checksum_pre") &&
            coalesce(col("n_objects_post"), lit(0L)) === 1L)
            .as("conserved"))
        .orderBy(col("source"))
      } finally graft.Fs.deleteRec(new java.io.File(outDir))
      }
    }),

    // Differentially-private count release (Dwork et al., TCC 2006) —
    // the third rung of the privacy family after the k-anonymity and
    // l-diversity AUDITS: actually release the (segment, nation)
    // histogram under epsilon-DP by adding Laplace(sensitivity/eps)
    // noise to each cell of a unit-sensitivity count query. The noise
    // is the Laplace inverse CDF over the deterministic md5 uniform
    // keyed by the CELL (reproducible releases, engine-identical,
    // restated in the oracle; a production release would key the hash
    // by a secret salt — the mechanism is identical). True counts are
    // NOT in the output — the release is the noisy histogram plus its
    // privacy parameter. One map-combinable count to the cell grid,
    // then pure projection arithmetic; the 1e-15 floor guards the
    // ln(0) pole at the uniform's upper endpoint.
    "q_dp_counts" -> ((s, d) => {
      val EPS = 0.5
      val B = 1.0 / EPS
      val M = math.pow(16, 13)
      val cells = Tables(s, d, "customer")
        .groupBy(col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat"))
        .agg(count(lit(1)).as("n"))
      val u = (conv(substring(md5(concat(col("seg"), lit(":"),
        col("nat").cast("string"))), 1, 13), 16, 10)
        .cast("double") + 1d) / lit(M + 1d)
      val c = u - 0.5
      val noise = -signum(c) * B *
        log(greatest(lit(1e-15), lit(1.0) - lit(2.0) * abs(c)))
      cells
        .withColumn("epsilon", lit(EPS))
        .withColumn("noisy_n", round(col("n") + noise, 6))
        .select(col("seg"), col("nat"), col("epsilon"), col("noisy_n"))
        .orderBy(col("seg"), col("nat"))
    }),

    // K-ANONYMITY audit over a generalization ladder (Sweeney 2002;
    // the lattice walk at the core of Incognito/Mondrian) — the
    // governance gate a training-data release runs before shipping
    // rows keyed by quasi-identifiers. One ROLLUP pass computes every
    // ladder level's equivalence classes in a single map-combinable
    // shuffle (level 0: segment+nation+balance-band; level 1: drop the
    // band; level 3: segment only — grouping_id names the level), and
    // a second class-keyed aggregation scores each level: classes,
    // classes under k, rows at risk, and whether the level satisfies
    // k — the finest satisfying level is the release policy. At
    // 100 TB this is two shuffles whose first stage is partial-agg
    // friendly (class counts combine map-side); no per-row state.
    "q_kanon" -> ((s, d) => {
      val K = 5
      Tables(s, d, "customer")
        .select(col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") / 2000).cast("long").as("bal_band"))
        .rollup(col("seg"), col("nat"), col("bal_band"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .filter(col("gid").isin(0, 1, 3))
        .groupBy(col("gid"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("n") < K, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("n") < K, col("n")).otherwise(0L)).as("rows_at_risk"))
        .select(col("gid").cast("long").as("level"), col("n_classes"),
          col("n_violating"), col("rows_at_risk"),
          (col("n_violating") === 0L).as("satisfies_k"))
        .orderBy(col("level"))
    }),

    // l-diversity audit (Machanavajjhala et al., ICDE'06) — the
    // k-anonymity ladder's sequel: a class of ≥K rows still leaks when
    // its SENSITIVE attribute is homogeneous. Per quasi-identifier
    // class (nation × balance band), both published criteria over the
    // sensitive segment column: DISTINCT l-diversity (≥L distinct
    // sensitive values) and ENTROPY l-diversity (−Σp·ln p ≥ ln L).
    // One corpus-scaled pass builds the (class, seg) cell counts; the
    // class totals are a window over the CELL frame (category-grid
    // cardinality, never the corpus), and the entropy is an exact
    // DECIMAL sum of round-9 contributions — the q_chi_square rationale:
    // partitioning-invariant and identically parenthesized in DuckDB.
    "q_ldiversity" -> ((s, d) => {
      val L = 3
      val cells = Tables(s, d, "customer")
        .select(col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") / 2000).cast("long").as("bal_band"),
          col("c_mktsegment").as("seg"))
        .groupBy(col("nat"), col("bal_band"), col("seg"))
        .agg(count(lit(1)).as("c"))
      val wcl = Window.partitionBy(col("nat"), col("bal_band"))
      val p = col("c").cast("double") / col("n").cast("double")
      cells
        .withColumn("n", sum(col("c")).over(wcl))
        .withColumn("contrib", round(-p * log(p), 9))
        .groupBy(col("nat"), col("bal_band"))
        .agg(max(col("n")).as("n"),
          count(lit(1)).as("n_sensitive"),
          sum(col("contrib").cast(DecimalType(24, 9))).cast("double")
            .as("entropy"))
        .withColumn("distinct_l", col("n_sensitive") >= L)
        .withColumn("entropy_l", col("entropy") >= log(lit(L.toDouble)))
        .orderBy(col("nat"), col("bal_band"))
    }),

    // t-closeness audit (Li, Li & Venkatasubramanian, ICDE'07) — the
    // last rung of the release-audit ladder: a class that is k-anon
    // AND l-diverse still leaks when its sensitive DISTRIBUTION skews
    // far from the corpus's. Per quasi-identifier class (nation ×
    // balance band), total variation distance between the class's
    // segment distribution and the global one:
    // tvd = ½ Σ_seg |p_class(seg) − p_global(seg)|, the categorical
    // instance of the paper's EMD. The sum runs over the FULL segment
    // alphabet (absent cells contribute p_global/2), built as
    // classes × broadcast(global-marginal) grid — category-grid sized,
    // never corpus sized — left-joined to the observed cells. Scale
    // shape: one corpus pass for cells (map-combinable), everything
    // after is on the tiny class/segment grid; the ½ is folded into
    // each contribution BEFORE its round-9 (a post-sum ×0.5 lands
    // exactly on half-digits where Spark HALF_UP and DuckDB HALF_EVEN
    // disagree), then contributions are DECIMAL-summed (the
    // q_ldiversity discipline) — partitioning-invariant and
    // engine-identical.
    "q_tcloseness" -> ((s, d) => {
      val T = 0.35
      val base = Tables(s, d, "customer")
        .select(col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") / 2000).cast("long").as("bal_band"),
          col("c_mktsegment").as("seg"))
      val cells = base.groupBy(col("nat"), col("bal_band"), col("seg"))
        .agg(count(lit(1)).as("c"))
      val classes = cells.groupBy(col("nat"), col("bal_band"))
        .agg(sum(col("c")).as("n"))
      val glob = base.groupBy(col("seg")).agg(count(lit(1)).as("g"))
        .crossJoin(broadcast(base.agg(count(lit(1)).as("nn"))))
      classes.crossJoin(broadcast(glob))
        .join(cells, Seq("nat", "bal_band", "seg"), "left_outer")
        .withColumn("contrib", round(abs(
          coalesce(col("c"), lit(0L)).cast("double") / col("n") -
            col("g").cast("double") / col("nn")) * 0.5d, 9))
        .groupBy(col("nat"), col("bal_band"))
        .agg(max(col("n")).as("n"),
          sum(col("contrib").cast(DecimalType(24, 9)))
            .cast("double").as("tvd"))
        .withColumn("satisfies_t", col("tvd") <= T)
        .orderBy(col("nat"), col("bal_band"))
    }),

    // RFM segmentation (Hughes 1994; the direct-marketing scoring
    // every CRM warehouse runs): per customer recency (days from
    // their last order to the corpus high-water date), frequency
    // (order count) and monetary (exact DECIMAL revenue sum cast to
    // double — the house sumMoney discipline; a DECIMAL(18,2) final
    // column would hash-diverge because DuckDB's pandas bridge
    // renders DECIMAL as float64, dropping trailing zeros), each
    // scored into exact rank quintiles WITHIN the customer's market
    // segment — the per-source-partitioned window discipline of
    // q_percentile_prune (a global unpartitioned ntile would funnel
    // every customer through one task; segment keys keep the sort
    // distributed). Rank ties break on custkey, so quintiles are
    // total-order exact, and the score is pure integer arithmetic
    // 5 − ((rk−1)·5 div n) — top rank scores 5 at any segment size.
    // One orders pass (custkey-keyed agg), one customers join, three
    // segment-partitioned windows; the corpus max date is the only
    // broadcast.
    "q_rfm" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val perCust = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(dec(col("o_totalprice"))).cast("double")
            .as("monetary"))
      val hw = o.agg(max(col("o_orderdate")).as("hwm"))
      val base = perCust
        .join(Tables(s, d, "customer")
          .select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("seg")), Seq("o_custkey"))
        .crossJoin(broadcast(hw))
        .select(col("o_custkey").as("custkey"), col("seg"),
          datediff(col("hwm"), col("last_order")).cast("long")
            .as("recency_days"),
          col("frequency"), col("monetary"))
      def wSeg(o: org.apache.spark.sql.Column*) =
        Window.partitionBy(col("seg")).orderBy(o: _*)
      val n = Window.partitionBy(col("seg"))
      def score(rk: String) =
        expr(s"5 - (($rk - 1) * 5) div n").cast("long")
      base
        .withColumn("n", count(lit(1)).over(n))
        .withColumn("rk_r", row_number()
          .over(wSeg(col("recency_days"), col("custkey"))).cast("long"))
        .withColumn("rk_f", row_number()
          .over(wSeg(col("frequency").desc, col("custkey"))).cast("long"))
        .withColumn("rk_m", row_number()
          .over(wSeg(col("monetary").desc, col("custkey"))).cast("long"))
        .select(col("custkey"), col("seg"), col("recency_days"),
          col("frequency"), col("monetary"),
          score("rk_r").as("r_score"),
          score("rk_f").as("f_score"),
          score("rk_m").as("m_score"))
        .withColumn("label",
          when(col("r_score") === 5 && col("f_score") >= 4, "champion")
            .when(col("f_score") >= 4, "loyal")
            .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
            .when(col("r_score") <= 2, "hibernating")
            .otherwise("regular"))
        .orderBy(col("custkey"))
    }),

    // Snapshot diff — the data-versioning audit (what changed between
    // two loads of the same table): added / removed / changed rows via
    // ONE full-outer join on the key, comparing the tracked columns
    // directly (no row-hash — engine-specific decimal/double rendering
    // would poison a concat-hash; integer and string columns compare
    // exactly). The "second version" is built deterministically from
    // the first (key%13 deleted, key%7's priority rewritten, key%11
    // re-keyed high as inserts — all restated in the oracle), so the
    // operator is self-contained on any snapshot. Unchanged rows are
    // filtered out BEFORE the sort, so output is delta-sized; the join
    // is key-hash shuffled, never a comparison cross product.
    "q_snapshot_diff" -> ((s, d) => {
      val v1 = Tables(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"))
      val v2 = v1.filter(col("k") % 13 =!= 0)
        .withColumn("o_orderpriority",
          when(col("k") % 7 === 0, lit("X-CHANGED"))
            .otherwise(col("o_orderpriority")))
        .unionByName(v1.filter(col("k") % 11 === 0)
          .select((col("k") + 1000000000L).as("k"), col("o_custkey"),
            col("o_orderstatus"), col("o_orderpriority")))
      val l = v1.select(col("k"), col("o_custkey").as("c1"),
        col("o_orderstatus").as("s1"), col("o_orderpriority").as("p1"))
      val r = v2.select(col("k"), col("o_custkey").as("c2"),
        col("o_orderstatus").as("s2"), col("o_orderpriority").as("p2"))
      l.join(r, Seq("k"), "full_outer")
        .withColumn("status",
          when(col("c1").isNull, lit("added"))
            .when(col("c2").isNull, lit("removed"))
            .when(col("c1") =!= col("c2") || col("s1") =!= col("s2") ||
              col("p1") =!= col("p2"), lit("changed")))
        .filter(col("status").isNotNull)
        .select(col("k").as("o_orderkey"), col("status"),
          col("p1").as("old_priority"), col("p2").as("new_priority"))
        .orderBy(col("o_orderkey"))
    }),

    // INTERSECT / EXCEPT (distinct set semantics, like SQL).
    "q_setops" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val open = o.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      val both = urgent.intersect(open).withColumn("set_op", lit("intersect"))
      val onlyUrgent = urgent.except(open).withColumn("set_op", lit("except"))
      both.unionByName(onlyUrgent)
        .select(col("set_op"), col("o_custkey"))
        .orderBy(col("set_op"), col("o_custkey"))
    }),

    // Pivot: event counts per user_id bucket × event_type (fixed pivot
    // columns → deterministic schema).
    "q_pivot" -> ((s, d) => {
      Tables(s, d, "events")
        .withColumn("ubucket", col("user_id") % 10)
        .groupBy(col("ubucket"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("ubucket"))
    }),

    // UNPIVOT (melt) — the inverse reshaping of q_pivot: the same
    // wide per-bucket × event-type count matrix folded back to long
    // (ubucket, event_type, n) rows via stack, dropping nothing
    // (zero cells survive as explicit zeros — reshaping must be
    // lossless both ways). A narrow projection after the same one
    // aggregation q_pivot runs; no extra shuffle for the melt itself.
    "q_unpivot" -> ((s, d) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val wide = Tables(s, d, "events")
        .withColumn("ubucket", col("user_id") % 10)
        .groupBy(col("ubucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L)
      val stacked = types.map(t => s"'$t', `$t`").mkString(", ")
      wide.selectExpr("ubucket",
          s"stack(${types.size}, $stacked) as (event_type, n)")
        .orderBy(col("ubucket"), col("event_type"))
    }),

    // Ordered string aggregation per group.
    "q_string_agg" -> ((s, d) => {
      Tables(s, d, "customer")
        .filter(col("c_custkey") < 50)
        .groupBy(col("c_mktsegment"))
        .agg(array_join(sort_array(collect_list(col("c_name"))), ",").as("names"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),

    // CUBE over two dims (rollup's full-lattice sibling).
    "q_cube" -> ((s, d) => {
      Tables(s, d, "events")
        .withColumn("ub", col("user_id") % 5)
        .cube(col("event_type"), col("ub"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total"))
        .orderBy(col("event_type").asc_nulls_first, col("ub").asc_nulls_first)
    }),

    // As-of join: for every 'click' event, the most recent 'purchase'
    // by the same user at or before it. Formulated as union + window
    // (last purchase ts running over the merged, time-ordered stream):
    // one shuffle on user_id, no range cross product — the layout that
    // survives 100 TB (a per-key sort-merge, exactly how a native as-of
    // physical operator would execute).
    "q_asof_join" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("is_click"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      e.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is_click"),
        when(col("event_type") === "purchase", unix_micros(col("ts"))).as("p_ts"))
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("last_purchase_us", max(col("p_ts")).over(w))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("last_purchase_us"))
        .orderBy(col("event_id"))
    }),

    // Deterministic hash split assignment: the reproducible
    // train/val/test partition every training pipeline needs. The
    // split is a pure function of the STABLE key (first 16 bits of
    // md5), so it is identical across engines, runs, cluster sizes and
    // data orderings — unlike sample()/rand(seed), whose output depends
    // on partitioning. 90/5/5 on 16-bit buckets; map-side only, no
    // shuffle until the presentation sort.
    "q_split_hash" -> ((s, d) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long")
      Tables(s, d, "documents")
        .select(col("doc_id"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 58982, "train")
            .when(col("bucket") < 62259, "val")
            .otherwise("test"))
        .orderBy(col("doc_id"))
    }),

    // Weighted mixture sampling: per-source keep-fractions (the
    // C4/Pile-style dataset-mixture step). Row-level keep decision is
    // the same stable-key md5 bucket as q_split_hash — deterministic,
    // engine-independent, partitioning-independent — with the fraction
    // chosen per source tier. Map-side filter + one agg.
    "q_mixture_sample" -> ((s, d) => {
      val srcIdx = substring(col("source"), 4, 10).cast("int")
      val frac = when(srcIdx < 5, 1.0).when(srcIdx < 10, 0.5)
        .when(srcIdx < 15, 0.25).otherwise(0.1)
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long")
      Tables(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(bucket < frac * 65536, 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // WEIGHTED sampling WITHOUT replacement — the Efraimidis–Spirakis
    // exponential-keys algorithm ("Weighted random sampling with a
    // reservoir", IPL 2006): each row draws u ∈ (0,1] and the k
    // largest values of u^(1/w) are the sample, which provably selects
    // without replacement with probability proportional to weight.
    // Ranking by ln(u)/w is the same order (monotone transform) in
    // plain double math. The "random" u is the stable md5-key uniform
    // the other samplers use — top 13 hex digits (52 bits, exactly a
    // double mantissa) scaled into (0,1] — so the sample is a pure
    // function of doc_id: deterministic, engine-independent,
    // partitioning-independent, and restated verbatim in the oracle.
    // Weight = document length (longer docs proportionally likelier —
    // the token-budget-aware variant of uniform doc sampling).
    //
    // Scale: a narrow projection (md5 + ln per row, no shuffle)
    // feeding a global top-k via TakeOrderedAndProject — per-partition
    // partial top-k, K rows to the driver, never a full sort. The
    // per-key round-at-9 DECIMAL keeps the rank ORDER bit-exact across
    // engines; ties (if any) break on doc_id in the ORDER BY itself.
    // The key is NOT emitted — only the rank is: a rounded
    // transcendental is one libm ULP away from a hash mismatch
    // forever, while the ordering it induces is ULP-robust (rounding
    // at 9 digits collapses near-ties, doc_id breaks the rest). The
    // rank window runs over the already-selected K rows (one tiny
    // single-partition sort of 100 rows, never the corpus).
    "q_weighted_sample" -> ((s, d) => {
      val K = 100
      val M = math.pow(16, 13) // 2^52 — exactly representable
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 13),
        16, 10).cast("double") + 1d) / lit(M + 1d)
      val w = greatest(col("n_chars"), lit(1)).cast("double")
      val topK = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"),
          greatest(col("n_chars"), lit(1)).cast("long").as("weight"),
          round(log(u) / w, 9).cast(DecimalType(15, 9)).as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(K)
      val byKey = Window.orderBy(col("es_key").desc, col("doc_id"))
      topK
        .withColumn("rk", row_number().over(byKey).cast("long"))
        .select(col("rk"), col("doc_id"), col("source"), col("weight"))
        .orderBy(col("rk"))
    }),

    // STRATIFIED weighted sampling: the per-group form of
    // q_weighted_sample — an A-ES sample of 5 docs per source, so
    // every stratum is represented regardless of its share of the
    // corpus (the fixed-budget-per-domain step of mixture curation).
    // Same deterministic ln(u)/w key; selection is a rank over a
    // source-partitioned window instead of a global top-k — one
    // shuffle on source, per-group sort, map-side filter. A skewed
    // giant stratum costs its own sort, never a global one.
    "q_stratified_sample" -> ((s, d) => {
      val PER_GROUP = 5
      val M = math.pow(16, 13)
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 13),
        16, 10).cast("double") + 1d) / lit(M + 1d)
      val w = greatest(col("n_chars"), lit(1)).cast("double")
      val keyed = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"),
          greatest(col("n_chars"), lit(1)).cast("long").as("weight"),
          round(log(u) / w, 9).cast(DecimalType(15, 9)).as("es_key"))
      val byKey = Window.partitionBy(col("source"))
        .orderBy(col("es_key").desc, col("doc_id"))
      keyed.withColumn("rk", row_number().over(byKey))
        .filter(col("rk") <= PER_GROUP)
        .select(col("source"), col("rk").cast("long").as("rk"),
          col("doc_id"), col("weight"))
        .orderBy(col("source"), col("rk"))
    }),

    // Token-budget allocation — the step between mixture weights and
    // actual sampling: split a global training-token budget B across
    // sources proportionally to their (here, size-proxy) weights so
    // the integer allocations sum to EXACTLY B. Largest-remainder
    // (Hamilton) apportionment: base_i = floor(B·w_i / W), then the
    // B − Σbase leftover tokens go one each to the largest
    // remainders (ties broken by source asc — a total order, so both
    // engines agree). All arithmetic is exact BIGINT — B·w must fit,
    // which holds to ~9e11 weight units at this B; a deployment
    // rescales the weight unit with its corpus. One grid agg, one
    // 1-row broadcast, two windows over the |sources|-row grid —
    // nothing scales with the corpus beyond the first agg.
    // Sequence PACKING — the concat-and-cut step that turns a curated
    // corpus into fixed-length training sequences (the GPT/LLaMA
    // pretraining layout: documents concatenate in manifest order and
    // the stream is cut every CTX tokens; what a trainer actually
    // consumes is this table, not documents). Per source — each
    // source is its own pack stream, which is both the real layout
    // (packing runs per shard) and what keeps the prefix-sum window
    // partitioned instead of single-task at 100 TB. Each doc spans
    // seqs floor(start/CTX)..floor((end-1)/CTX) (≤ ceil(tok/CTX)+1 —
    // bounded explode, no join), and the report carries the stats a
    // training stack sizes attention masks and loss weighting by:
    // docs touching the sequence, docs STARTING in it (boundary
    // segments for the block-diagonal mask), token fill. Whitespace
    // tokens = the q_token_stats kernel (one definition). NOT
    // q_pack_sequences: that one bins WHOLE docs into ~budget-sized
    // shards (no splitting, bins overflow); this is the token-exact
    // cut where a doc straddles sequence boundaries — the layout the
    // trainer's data loader consumes vs the shard plan the storage
    // layer writes.
    "q_seq_pack" -> ((s, d) => {
      val toks = seqPackToks(Tables(s, d, "documents"))
      seqPackReport(seqPackAgg(toks, toks.limit(0)
        .select(col("source"), col("tok").as("off"))))
    }),

    // The pack MANIFEST — the per-(sequence, doc) segment index a
    // training dataloader actually seeks by (q_seq_pack's per-seq
    // aggregates can't rebuild a loss mask; this table can): for
    // every document segment, its sequence, offset within the
    // sequence, token count and whether the doc STARTS here (the
    // block-diagonal mask boundary). Same kernel frame as q_seq_pack
    // one groupBy earlier — one definition, two report grains.
    "q_seq_manifest" -> ((s, d) => {
      val CTX = PACK_CTX
      val toks = seqPackToks(Tables(s, d, "documents"))
      seqPackSpans(toks, toks.limit(0)
          .select(col("source"), col("tok").as("off")))
        .select(col("source"), col("seq_id").cast("long").as("seq_id"),
          col("doc_id"),
          (greatest(col("start"), col("seq_id") * CTX) -
            col("seq_id") * CTX).as("off_in_seq"),
          col("seg").as("seg_tokens"),
          (expr(s"start div $CTX") === col("seq_id")).as("is_doc_start"))
        .orderBy(col("source"), col("seq_id"), col("off_in_seq"))
    }),

    "q_token_budget" -> ((s, d) => {
      val B = 10000000L
      val wAll = Window.orderBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val byRem = Window.orderBy(col("rem").desc, col("source"))
      val src = Tables(s, d, "documents")
        .groupBy(col("source")).agg(sum(col("n_chars")).as("w"))
      val tot = src.agg(sum(col("w")).as("wt"))
      src.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($B * w) div wt"))
        .withColumn("rem", expr(s"($B * w) % wt"))
        .withColumn("leftover", lit(B) - sum(col("base")).over(wAll))
        .withColumn("rn", row_number().over(byRem))
        .select(col("source"), col("w"),
          (col("base") + when(col("rn") <= col("leftover"), 1L)
            .otherwise(0L)).as("alloc"))
        .orderBy(col("source"))
    }),

    // Composed per-source curation report — the one-stop corpus-health
    // grid a curator reads before weighting sources (the
    // training-data twin of q_etl_pipeline's composed trace): per
    // source, volume (docs, whitespace tokens, mean chars), exact-dup
    // exposure (fraction of docs that are NON-KEEPER copies under the
    // global content-hash rule — q_dedup_exact's keeper semantics
    // verbatim), and the dominant language with a total-order
    // tiebreak. Every ingredient reuses a shipped definition; shuffles
    // are the content-hash group (uniform md5 key), the (source, lang)
    // grid, and one doc-keyed flag join — nothing corpus².
    "q_curation_report" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("source"), col("doc_id"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          md5(col("text")).as("h"))
        .persist()
      val keepers = docs.groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper_id"))
      val flagged = docs.join(keepers, Seq("h"))
        .withColumn("is_dup", (col("doc_id") =!= col("keeper_id")).cast("long"))
      val vol = flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          // exact integer sum, ONE final division (a float AVG
          // accumulates in partition order and drifts across layouts)
          round(sum(col("n_chars")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_chars"),
          round(sum(col("is_dup")).cast("double") /
            count(lit(1)).cast("double"), 6).as("dup_frac"))
      val wLang = Window.partitionBy(col("source"))
        .orderBy(col("n_l").desc, col("lang"))
      val topLang = docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_l"))
        .withColumn("rk", row_number().over(wLang))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      vol.join(topLang, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("mean_chars"), col("dup_frac"), col("top_lang"))
        .orderBy(col("source"))
    }),

    // Training-shard plan — the write-side sibling of q_token_budget:
    // documents hash-assign to a fixed shard count via the stable
    // md5-bucket key (partitioning/cluster-size/ordering-invariant,
    // the q_split_hash device), and the plan reports each shard's
    // load plus its ratio to the mean — the balance audit run before
    // a training job maps workers to shards (a 2× hot shard = a 2×
    // slower epoch). Token proxy = n_chars div 4, exact integers;
    // ratios are the only doubles, rounded. One corpus agg, then
    // windows over the 32-row shard grid.
    "q_shard_plan" -> ((s, d) => {
      val SHARDS = 32
      val shard = (conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long") % SHARDS).as("shard")
      val wAll = Window.orderBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, d, "documents")
        .select(shard, col("n_chars"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_bytes"),
          sum(expr("n_chars div 4")).as("n_tokens"))
        .withColumn("load_ratio",
          round(col("n_tokens").cast("double") * count(lit(1)).over(wAll) /
            sum(col("n_tokens")).over(wAll).cast("double"), 6))
        .select(col("shard"), col("n_docs"), col("n_bytes"),
          col("n_tokens"), col("load_ratio"))
        .orderBy(col("shard"))
    }),

    // Epoch upsampling — the other half of mixture curation: a source
    // weighted w epochs emits floor(w) full copies of every doc plus
    // one more for the deterministic md5-bucket slice of size frac(w)
    // (2.3 epochs = 2 copies + a 30% third). Emission is a map-side
    // explode (per-row fan-out, no shuffle); integer buckets make the
    // frac threshold engine-exact even though 0.3·65536 isn't a clean
    // double. The copy_no column is what downstream shuffles/packing
    // key on so repeated copies don't co-locate.
    "q_epoch_upsample" -> ((s, d) => {
      val srcIdx = substring(col("source"), 4, 10).cast("int")
      val w = when(srcIdx < 5, 2.3).when(srcIdx < 10, 1.0)
        .when(srcIdx < 15, 0.5).otherwise(0.1)
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long")
      val copies = (floor(w).cast("long") +
        when(bucket < (w - floor(w)) * 65536, 1L).otherwise(0L)).as("copies")
      Tables(s, d, "documents")
        .select(col("source"), col("doc_id"), copies)
        .select(col("source"), col("doc_id"),
          explode(when(col("copies") >= 1, sequence(lit(1L), col("copies")))
            .otherwise(array().cast("array<bigint>"))).as("copy_no"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs_in"),
          count(lit(1)).as("n_emitted"))
        .orderBy(col("source"))
    }),

    // Forward as-of with tolerance through the native operator: the
    // FIRST purchase at-or-after each click, but only within 2 hours —
    // attribution joins ("did a purchase follow this click?") are this
    // exact shape. Same single-pass merge; the forward scan peeks
    // instead of buffering (one right row can serve many left rows).
    "q_asof_join_fwd" -> ((s, d) => {
      val clicks = Tables(s, d, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      val purchases = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      graft.plans.AsOf.join(clicks, purchases,
          keys = Seq("user_id"), leftTime = "ts_us", rightTime = "ts_us",
          direction = "forward", toleranceUs = Some(7200000000L))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("ts_us_r").as("next_purchase_us"))
        .orderBy(col("event_id"))
    }),

    // Nearest-direction as-of (pandas merge_asof direction='nearest'):
    // each click takes whichever purchase is closer in time, backward
    // winning ties (and a same-timestamp purchase counts as backward —
    // the union sort puts state rows before fact rows at equal ts, so
    // the forward frame genuinely means strictly-after). Both window
    // frames share one partitioning and one sort → ONE shuffle total,
    // the same scale shape as the single-direction forms.
    "q_asof_join_nearest" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val ord = Seq(col("ts_us"), col("is_click"), col("event_id"))
      val back = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      val fwd = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        .rowsBetween(0, Window.unboundedFollowing)
      e.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is_click"),
        when(col("event_type") === "purchase", unix_micros(col("ts"))).as("p_ts"))
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("last_us", max(col("p_ts")).over(back))
        .withColumn("next_us", min(col("p_ts")).over(fwd))
        .filter(col("event_type") === "click")
        .withColumn("nearest_us",
          when(col("last_us").isNull, col("next_us"))
            .when(col("next_us").isNull, col("last_us"))
            .when(col("ts_us") - col("last_us") <= col("next_us") - col("ts_us"),
              col("last_us"))
            .otherwise(col("next_us")))
        .withColumn("direction",
          when(col("nearest_us").isNull, lit(null).cast("string"))
            .when(col("nearest_us") === col("last_us"), "backward")
            .otherwise("forward"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("nearest_us"), col("direction"))
        .orderBy(col("event_id"))
    }),

    // Range (interval) join via BINNING: match each click to every
    // 2-hour promo window containing it. The naive plan for
    // `ts BETWEEN start AND end` is a nested-loop join — O(|L|·|R|) and
    // a broadcast requirement that dies at 100 TB. Instead both sides
    // are keyed by a coarse time bin (bin width = max interval length,
    // so an interval spans ≤ 2 bins): intervals replicate to the bins
    // they overlap (explode(sequence(...)), ≤ 2 rows each), events land
    // in exactly one bin, and the match becomes an EQUI-join on bin +
    // residual range filter. Each (event, interval) pair meets exactly
    // once — in the event's bin — so no dedup is needed, and the join
    // shuffles/scales like any hash join.
    "q_range_join" -> ((s, d) => {
      val BIN_US = 2L * 3600 * 1000000 // 2h, = the promo window length
      val ev = Tables(s, d, "events")
      val promos = ev
        .filter(col("event_type") === "purchase" && col("user_id") < 3)
        .select(col("event_id").as("promo_id"),
          unix_micros(col("ts")).as("start_us"))
        .withColumn("end_us", col("start_us") + BIN_US)
      val binnedPromos = promos.withColumn("bin",
        explode(sequence(expr(s"start_us div $BIN_US"),
          expr(s"(end_us - 1) div $BIN_US"))))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .withColumn("bin", expr(s"ts_us div $BIN_US"))
      clicks.join(binnedPromos, Seq("bin"))
        .filter(col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
        .select(col("promo_id"), col("event_id"), col("ts_us"))
        .orderBy(col("promo_id"), col("event_id"))
    }),

    // INTERVAL-UNION MEASURE (gaps-and-islands): total covered time
    // per user when every event opens a fixed 30-minute activity
    // interval — the dwell-time / coverage accounting that complements
    // q_sessionize (which counts islands; this measures their union).
    // An island's union is [min ts, max end) because a row whose ts
    // exceeds the running max of preceding ends BY DEFINITION starts a
    // new island — so covered time is one window pass (running max of
    // ends), a cumulative-sum island id, and two aggs. No interval
    // self-join, no explode: the naive union-by-overlap-join is
    // quadratic on a hot user; this is O(n log n) sort work per user,
    // exactly one shuffle on user_id (both windows and the agg share
    // it). Equal-ts ties can't flip the result: whichever tie sorts
    // first carries the island flag, and per-island min/max are
    // order-free.
    "q_interval_union_len" -> ((s, d) => {
      val D_US = 30L * 60 * 1000000
      val ev = Tables(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .withColumn("end_us", col("ts_us") + D_US)
      val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      val prevMaxEnd = max(col("end_us"))
        .over(byTs.rowsBetween(Window.unboundedPreceding, -1))
      val flagged = ev.withColumn("is_new",
        when(col("ts_us") > coalesce(prevMaxEnd, lit(Long.MinValue)), 1L)
          .otherwise(0L))
      val withIsland = flagged.withColumn("island",
        sum(col("is_new")).over(byTs.rowsBetween(Window.unboundedPreceding, 0)))
      withIsland
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("ts_us")).as("s"), max(col("end_us")).as("e"))
        .groupBy(col("user_id"))
        .agg(sum(col("e") - col("s")).as("covered_us"),
          count(lit(1)).as("n_islands"))
        .orderBy(col("user_id"))
    }),

    // The same as-of semantics through the NATIVE operator
    // (graft.plans.AsOfJoinPlan → AsOfJoinExec: hash-cluster + per-key
    // sort-merge, preference order (c) of the builder brief) — same
    // oracle as q_asof_join, so the custom physical plan is held to the
    // identical correctness gate. Unlike the window formulation it never
    // buffers a key group and joins arbitrary PAYLOAD columns, not just
    // the max timestamp.
    "q_asof_join_native" -> ((s, d) => {
      val clicks = Tables(s, d, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      val purchases = Tables(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      graft.plans.AsOf.join(clicks, purchases,
          keys = Seq("user_id"), leftTime = "ts_us", rightTime = "ts_us")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("ts_us_r").as("last_purchase_us"))
        .orderBy(col("event_id"))
    }),

    // SCD type-2 dimension reconstruction from a change log: collapse
    // each user's event stream into attribute-version intervals —
    // detect changes with lag(), keep change rows, close each interval
    // with lead() (NULL valid_to = current). The lakehouse "history
    // table from CDC" operator. Both windows partition on user_id with
    // the same ordering, so the plan pays ONE shuffle + ONE sort; keys
    // are uniform (per-user history), no skew. Versions are dense per
    // user and deterministic (ties broken by event_id).
    "q_scd2" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val changes = Tables(s, d, "events")
        .select(col("user_id"), col("event_type").as("attr"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .withColumn("prev", lag(col("attr"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("attr"))
      changes
        .withColumn("valid_from_us", col("ts_us"))
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
        .withColumn("version", row_number().over(w).cast("long"))
        .select(col("user_id"), col("attr"), col("valid_from_us"),
          col("valid_to_us"), col("version"),
          col("valid_to_us").isNull.as("is_current"))
        .orderBy(col("user_id"), col("version"))
    }),

    // Z-order data layout: interleave the bits of two clustering dims
    // (user bucket × day bucket) into one scan-locality key, then
    // assign each row to a fixed-width z-cell. At 100 TB this is the
    // layout-rewrite shape: zkey is a narrow projection (16 bitwise
    // terms, codegen'd, no shuffle), the actual file placement is a
    // range-partitioned sort by zkey — so a reader filtering EITHER
    // dim prunes contiguous z-cells instead of scanning everything.
    // The cell id is zkey >> 4 (256 cells over the 16-bit z-space),
    // a pure projection — no global row_number window, which would
    // funnel the corpus through one partition.
    "q_zorder_layout" -> ((s, d) =>
      zorderEvents(s, d)
        .select(col("event_id"), col("zkey"), col("zcell"))
        .orderBy(col("zkey"), col("event_id"))),

    // Zone-map pruning audit — WOULD the layout rewrite pay? Assign
    // every row to a "file" under two layouts: ingestion order (256
    // contiguous event_id chunks) and z-order (the q_zorder_layout
    // cells — shared zorderEvents kernel, one definition). Build each
    // file's zone map (min/max of both clustering dims — exactly what
    // parquet footers carry), then for three fixed predicates (a-only,
    // b-only, conjunctive) count which files a zone-map-aware reader
    // skips and how many rows it still scans vs the rows that truly
    // match. The 100 TB shape: zone maps are ONE file-count-sized
    // aggregate per layout (≤512 rows total), predicates are a 3-row
    // broadcast, and row-match truth is one more corpus agg — the
    // audit never materializes a sort. The headline columns are
    // skip_frac (files skipped) and read_amp (rows scanned per
    // matching row) — the numbers that justify a z-order rewrite
    // before anyone pays for it.
    "q_zonemap_prune" -> ((s, d) => {
      import s.implicits._
      val ev = zorderEvents(s, d)
      val maxId = ev.agg(max(col("event_id")).as("mx"))
      // event_id*256 ≤ 2^53 at any realistic id, so the double
      // division inside floor() is exact — same form in the oracle
      val rows = ev.crossJoin(broadcast(maxId))
        .withColumn("file_naive",
          floor(col("event_id") * 256 / (col("mx") + 1)).cast("long"))
      val stacked = rows.select(lit("naive").as("layout"),
          col("file_naive").as("f"), col("a"), col("b"))
        .unionByName(rows.select(lit("zorder").as("layout"),
          col("zcell").as("f"), col("a"), col("b")))
      val zones = stacked.groupBy(col("layout"), col("f"))
        .agg(min(col("a")).as("min_a"), max(col("a")).as("max_a"),
          min(col("b")).as("min_b"), max(col("b")).as("max_b"),
          count(lit(1)).as("n_rows"))
      val preds = Seq[(String, Option[Long], Option[Long],
          Option[Long], Option[Long])](
        ("a_8_15", Some(8L), Some(15L), None, None),
        ("b_20_23", None, None, Some(20L), Some(23L)),
        ("both", Some(8L), Some(15L), Some(20L), Some(23L)))
        .toDF("pred", "alo", "ahi", "blo", "bhi")
      val zoneHit =
        (col("alo").isNull || (col("max_a") >= col("alo") &&
          col("min_a") <= col("ahi"))) &&
        (col("blo").isNull || (col("max_b") >= col("blo") &&
          col("min_b") <= col("bhi")))
      val scan = zones.crossJoin(broadcast(preds))
        .groupBy(col("layout"), col("pred"))
        .agg(count(lit(1)).as("n_files"),
          count(when(zoneHit, lit(1))).as("files_scanned"),
          sum(when(zoneHit, col("n_rows")).otherwise(0L)).as("rows_scanned"))
      val rowHit =
        (col("alo").isNull || col("a").between(col("alo"), col("ahi"))) &&
        (col("blo").isNull || col("b").between(col("blo"), col("bhi")))
      val matched = rows.crossJoin(broadcast(preds))
        .groupBy(col("pred"))
        .agg(count(when(rowHit, lit(1))).as("rows_matched"))
      scan.join(matched, Seq("pred"))
        .select(col("layout"), col("pred"), col("n_files"),
          col("files_scanned"), col("rows_scanned"), col("rows_matched"),
          round(lit(1.0d) - col("files_scanned").cast("double") /
            col("n_files").cast("double"), 9).as("skip_frac"),
          round(col("rows_scanned").cast("double") /
            nullif(col("rows_matched"), lit(0L)).cast("double"), 9)
            .as("read_amp"))
        .orderBy(col("layout"), col("pred"))
    }),

    // FULL OUTER join — the one outer-join shape the pack lacked:
    // the reconciliation report between an (intentionally filtered)
    // customer dim slice and the open-order rollup, keeping BOTH
    // orphan directions: dim rows with no open orders (zero-filled)
    // and order groups whose customer fell outside the slice
    // (has_customer=false) — each side genuinely non-empty on
    // testdata (GateSpec pins that, so the outer semantics are never
    // vacuously green). The rollup side pre-aggregates BEFORE the
    // join (partial-agg shuffle on o_custkey, then a key-colocated
    // join — at 100 TB the join input is |customers| rows per side,
    // not |orders|); exact DECIMAL spend.
    "q_full_outer" -> ((s, d) => {
      val c = Tables(s, d, "customer")
        .filter(col("c_mktsegment") =!= "MACHINERY")
        .select(col("c_custkey"), col("c_mktsegment"))
      val oa = Tables(s, d, "orders")
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("spend"))
      c.join(oa, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_custkey").isNotNull.as("has_customer"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("spend").cast("double"), lit(0d)).as("spend"))
        .orderBy(col("custkey"))
    }),

    // Incremental view maintenance (IVM): refresh a per-type
    // (count, exact sum) aggregate by MERGING yesterday's materialized
    // partial with the new-days partial — the base partition is never
    // rescanned at refresh time, only its partial rows are. The split
    // point is corpus-derived (max day − 7, a broadcast 1-row agg);
    // avg is maintained through the (n, sum) decomposition, never
    // averaged-of-averages. The merged result is pinned to the full
    // rescan by the oracle — THE IVM contract: merge(partials) ≡
    // aggregate(all raw), which holds because count/sum are
    // commutative monoids over exact types.
    // Right-to-erasure view maintenance — q_incremental_agg's INVERSE
    // direction: when a user cohort must be purged (GDPR erasure), the
    // materialized aggregates are maintained by SUBTRACTING the erased
    // cohort's partial from the base partial — touching only the
    // erased rows — instead of rescanning the surviving corpus. The
    // (count, exact DECIMAL sum) monoid is a GROUP, so the decrement
    // is exact, and the oracle states the compliance contract
    // directly: maintained ≡ rescan(survivors), bit for bit, with the
    // match emitted as a constant-true column the hash check pins. At
    // 100 TB the erased cohort is keys × rows-per-key, a sliver of
    // the corpus — the difference between a purge that takes minutes
    // and one that rescans everything.
    "q_erasure_maintenance" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .select(col("event_type"), col("user_id"), dec(col("value")).as("y"))
      val erased = col("user_id") % 97 === 0
      def partial(f: org.apache.spark.sql.Column) = ev.filter(f)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
      val base = partial(lit(true))
      val del = partial(erased)
      val maintained = base
        .join(del.select(col("event_type"), col("n").as("dn"),
          col("s").as("ds")), Seq("event_type"), "left_outer")
        .select(col("event_type"),
          (col("n") - coalesce(col("dn"), lit(0L))).as("n_maintained"),
          (col("s") - coalesce(col("ds"), col("s") - col("s")))
            .as("s_maintained"),
          coalesce(col("dn"), lit(0L)).as("n_erased"))
      val rescan = partial(!erased)
        .select(col("event_type"), col("n").as("n_rescan"),
          col("s").as("s_rescan"))
      maintained.join(rescan, Seq("event_type"))
        .select(col("event_type"), col("n_erased"), col("n_maintained"),
          col("s_maintained").cast("double").as("total_maintained"),
          (col("n_maintained") === col("n_rescan") &&
            col("s_maintained") === col("s_rescan")).as("matches_rescan"))
        .orderBy(col("event_type"))
    }),

    "q_incremental_agg" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .select(col("event_type"), dec(col("value")).as("y"),
          floor(unix_seconds(col("ts")).cast("double") / 86400d)
            .cast("long").as("day"))
      val cut = ev.agg((max(col("day")) - 7L).as("cut"))
      val tagged = ev.crossJoin(broadcast(cut))
      def partial(f: org.apache.spark.sql.Column) = tagged.filter(f)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
      val base = partial(col("day") < col("cut"))     // materialized view
      val delta = partial(col("day") >= col("cut"))   // the new batch
      base.unionAll(delta)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"),
          sum(col("s")).cast("double").as("total"),
          (sum(col("s")).cast("double") / sum(col("n"))).as("avg"))
        .orderBy(col("event_type"))
    }),

    // Data-quality expectation suite (the Deequ / Great Expectations
    // shape): declared constraints over the orders table, each scored
    // as a [0,1] satisfaction metric + a pass verdict, emitted as a
    // constraint report. The four row-level checks (completeness,
    // key uniqueness, value positivity, domain membership) come out
    // of ONE map-combinable pass over the fact table; referential
    // integrity joins only the DISTINCT fact keys (customer-dim
    // cardinality, not order cardinality) against the dim. Metrics
    // are exact-integer ratios landed in double once — deterministic
    // under any layout.
    "q_dq_checks" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      // coalesce: SUM over zero rows is NULL, and an empty table must
      // report vacuous satisfaction, not NULL verdicts (EmptyInputSpec)
      val rowChecks = o.agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("c_nn"),
        countDistinct(col("o_orderkey")).as("c_uniq"),
        coalesce(sum(when(col("o_totalprice") > 0d, 1L).otherwise(0L)),
          lit(0L)).as("c_pos"),
        coalesce(sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L)
          .otherwise(0L)), lit(0L)).as("c_dom"))
      val rc = rowChecks.selectExpr(
        """stack(4,
          |  'completeness:o_custkey',      c_nn,
          |  'uniqueness:o_orderkey',       c_uniq,
          |  'positivity:o_totalprice',     c_pos,
          |  'domain:o_orderstatus',        c_dom)
          |as (check, satisfied)""".stripMargin.replace("\n", " "),
        "n")
      val factKeys = o.select(col("o_custkey")).distinct()
      val orphanFree = factKeys.join(
          Tables(s, d, "customer").select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      val ri = factKeys.agg(count(lit(1)).as("n"))
        .crossJoin(orphanFree)
        .select(lit("referential:o_custkey->customer").as("check"),
          (col("n") - col("orphans")).as("satisfied"), col("n"))
      rc.unionAll(ri)
        .select(col("check"),
          // empty-table guard: a constraint over zero rows is vacuously
          // satisfied (metric 1.0, never 0/0 = NaN) — EmptyInputSpec
          when(col("n") > 0L,
            round(col("satisfied").cast("double") / col("n").cast("double"),
              9)).otherwise(lit(1.0d)).as("metric"),
          (col("satisfied") === col("n")).as("passed"))
        .orderBy(col("check"))
    }),

    // Equi-depth histogram build (the optimizer's statistics
    // primitive — Piatetsky-Shapiro & Connell 1984; what ANALYZE
    // TABLE materializes for selectivity estimation): 9 decile
    // boundaries per numeric column via the SAME grid-threshold pick
    // as the q_mad_anomaly median (min v with 10·cum ≥ k·n — a
    // domain-bounded cents grid, never a corpus sort), then the EXACT
    // per-bucket depths and depth_ratio = 10·n_bucket/n. On
    // continuous data every ratio ≈ 1; heavy ties inflate one bucket
    // and starve its neighbors — depth_ratio is the audit an
    // optimizer reads before trusting uniform-within-bucket
    // interpolation. Boundaries ride as a 1-row broadcast; bucket
    // assignment is Σ(v > bₖ) over the 9-element literal array.
    "q_equi_depth_hist" -> ((s, d) => {
      def leg(df: DataFrame, v: org.apache.spark.sql.Column,
              tag: String): DataFrame = {
        val g = df.select(v.as("v")).groupBy(col("v"))
          .agg(count(lit(1)).as("k"))
        val wC = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val gg = g.withColumn("cum", sum(col("k")).over(wC))
          .withColumn("n", sum(col("k")).over(
            Window.orderBy(lit(1)).rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)))
        val aggs = (1 to 9).map(kk =>
          min(when(col("cum") * 10 >= col("n") * kk, col("v")))
            .as(s"b$kk")) :+ max(col("n")).as("n_total")
        val bounds = gg.groupBy(lit(1).as("one"))
          .agg(aggs.head, aggs.tail: _*)
        val arr = array((1 to 9).map(kk => col(s"b$kk")): _*)
        gg.crossJoin(broadcast(bounds))
          .withColumn("bucket",
            (lit(1L) + (1 to 9).map(kk =>
              when(col("v") > col(s"b$kk"), 1L).otherwise(0L))
              .reduce(_ + _)).cast("long"))
          .withColumn("hi_boundary",
            when(col("bucket") <= 9L, element_at(arr, col("bucket")
              .cast("int"))))
          .groupBy(col("bucket"), col("hi_boundary"), col("n_total"))
          .agg(sum(col("k")).as("n_bucket"))
          .select(lit(tag).as("column_name"), col("bucket"),
            col("hi_boundary"), col("n_bucket"),
            round(col("n_bucket").cast("double") * 10 /
              col("n_total"), 9).as("depth_ratio"))
      }
      val cents = (c: String) =>
        (col(c).cast(DecimalType(12, 2)) * 100).cast("long")
      leg(Tables(s, d, "lineitem"), cents("l_extendedprice"),
          "lineitem.l_extendedprice")
        .unionAll(leg(Tables(s, d, "orders"), cents("o_totalprice"),
          "orders.o_totalprice"))
        .unionAll(leg(Tables(s, d, "events"), cents("value"),
          "events.value"))
        .orderBy(col("column_name"), col("bucket"))
    }),

    // Consistent-hashing elasticity audit (Karger et al. 1997) — the
    // resharding cost a 100 TB store pays when the cluster grows:
    // assign every doc to a shard under BOTH a 32-shard ring (8
    // virtual nodes/shard, clockwise-successor rule with wraparound)
    // and the 33-shard ring, and measure the moved share — ≈ 1/33
    // for the ring versus ≈ 32/33 for naive doc_id % N, quantifying
    // WHY a key-mod layout cannot rebalance. The vnode tables are
    // 256/264-row broadcasts; successor lookup is a broadcast range
    // join + (vh, shard) struct-min per key (lexicographic, so any
    // 52-bit hash tie still breaks identically in both engines);
    // nothing corpus-sized ever sorts.
    "q_hash_ring" -> ((s, d) => {
      def h(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 13), 16, 10).cast("long")
      val keys = Tables(s, d, "documents")
        .select(col("doc_id"), h(col("doc_id").cast("string")).as("kh"))
      def assign(n: Int, out: String): DataFrame = {
        val vn = s.range(n).select(col("id").as("shard"))
          .crossJoin(s.range(8).select(col("id").as("v")))
          .select(col("shard"),
            h(concat(lit("shard"), col("shard").cast("string"),
              lit("#"), col("v").cast("string"))).as("vh"))
        val wrap = vn.orderBy(col("vh"), col("shard")).limit(1)
          .select(col("shard").as("wrap_shard"))
        val succ = keys.join(broadcast(vn), col("vh") >= col("kh"))
          .groupBy(col("doc_id"))
          .agg(min(struct(col("vh"), col("shard"))).as("m"))
          .select(col("doc_id"), col("m.shard").as("succ_shard"))
        keys.select(col("doc_id"))
          .join(succ, Seq("doc_id"), "left")
          .crossJoin(broadcast(wrap))
          .select(col("doc_id"),
            coalesce(col("succ_shard"), col("wrap_shard")).as(out))
      }
      val ring = assign(32, "s32").join(assign(33, "s33"), Seq("doc_id"))
        .groupBy(lit(1).as("one"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("s32") =!= col("s33"), 1L).otherwise(0L))
            .as("n_moved"))
      val mod = keys.groupBy(lit(1).as("one"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("doc_id") % 32 =!= col("doc_id") % 33, 1L)
            .otherwise(0L)).as("n_moved"))
      ring.select(lit("ring_vnodes").as("strategy"), col("n_keys"),
          col("n_moved"))
        .unionAll(mod.select(lit("mod_n").as("strategy"), col("n_keys"),
          col("n_moved")))
        .withColumn("moved_share",
          round(col("n_moved").cast("double") / col("n_keys"), 9))
        .orderBy(col("strategy"))
    }),

    // Join-cardinality estimation audit — the optimizer-model check
    // an engine team runs before trusting a plan: for each candidate
    // equi-join, the System-R uniformity estimate |A|·|B|/max(dA,dB)
    // (Selinger 1979 — what Catalyst's BasicStatsPlanVisitor assumes)
    // against the EXACT output size Σₖ cA(k)·cB(k), computed from the
    // two per-key count grids joined on key — grid-sized work, the
    // join itself never runs. err_ratio tells the planner where the
    // uniformity assumption breaks (skew ⇒ underestimation ⇒ a
    // broadcast that OOMs at 100 TB); per-key products are BIGINT
    // with the q_ks_test DECIMAL(38,0) rescale note at extreme card.
    "q_join_card" -> ((s, d) => {
      def leg(a: DataFrame, ka: String, b: DataFrame, kb: String,
              tag: String): DataFrame = {
        val ca = a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("cA"))
        val cb = b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("cB"))
        val sa = ca.agg(sum(col("cA")).as("n_left"),
          count(lit(1)).as("d_left"))
        val sb = cb.agg(sum(col("cB")).as("n_right"),
          count(lit(1)).as("d_right"))
        val truth = ca.join(cb, Seq("k"))
          .agg(sum(col("cA") * col("cB")).as("true_rows"))
        sa.crossJoin(sb).crossJoin(truth)
          .filter(col("n_left").isNotNull && col("n_right").isNotNull)
          .select(lit(tag).as("join_key"), col("n_left"), col("n_right"),
            col("d_left"), col("d_right"),
            expr("(n_left * n_right) div greatest(d_left, d_right)")
              .as("est_rows"),
            coalesce(col("true_rows"), lit(0L)).as("true_rows"))
          .withColumn("err_ratio",
            round(col("est_rows").cast("double") /
              nullif(col("true_rows"), lit(0L)).cast("double"), 9))
      }
      val li = Tables(s, d, "lineitem")
      leg(li, "l_partkey", Tables(s, d, "part"), "p_partkey",
          "lineitem*part")
        .unionAll(leg(li, "l_suppkey", Tables(s, d, "supplier"),
          "s_suppkey", "lineitem*supplier"))
        .unionAll(leg(Tables(s, d, "orders"), "o_custkey",
          Tables(s, d, "customer"), "c_custkey", "orders*customer"))
        .unionAll(leg(Tables(s, d, "events"), "user_id",
          Tables(s, d, "events"), "user_id", "events*events"))
        .orderBy(col("join_key"))
    }),

    // UCB1 source-exploration scores (Auer et al. 2002) — the
    // "which source does the next crawl/annotation batch come from"
    // decision a curation loop makes from per-source reward history:
    // ucb = mean_reward + √(2·ln N / n), optimism scaling inversely
    // with how much a source has been tried. Reward here is the
    // simplest useful gate (doc length in the trainable band); the
    // estimator is the point. One grid aggregation per source, a
    // 1-row total broadcast, and a 20-row rank window — the two
    // transcendentals live in ONE identically-parenthesized round-9
    // expression (the q_welch_ttest discipline). explore_rank is the
    // dispatch order a scheduler reads off the top.
    "q_bandit_ucb" -> ((s, d) => {
      val g = Tables(s, d, "documents")
        .select(col("source"),
          when(col("n_chars") >= 200L && col("n_chars") <= 2000L, 1L)
            .otherwise(0L).as("r"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("r")).as("passes"))
      val wAll = Window.orderBy(lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("n_total", sum(col("n")).over(wAll))
        .withColumn("mean_reward",
          round(col("passes").cast("double") / col("n"), 9))
        .withColumn("ucb",
          round(col("passes").cast("double") / col("n") +
            sqrt(lit(2.0d) * log(col("n_total").cast("double")) /
              col("n")), 9))
        .withColumn("explore_rank", row_number().over(
          Window.orderBy(col("ucb").desc, col("source"))).cast("long"))
        .select(col("source"), col("n"), col("passes"),
          col("mean_reward"), col("ucb"), col("explore_rank"))
        .orderBy(col("source"))
    }),

    // Embargo'd temporal split audit — the time-series counterpart of
    // q_split_hash + q_split_leakage: train < t₁, a 5%-of-range
    // embargo gap [t₁, t₂), test ≥ t₂ (the gap absorbs
    // label-horizon bleed, the forecasting-CV discipline), with the
    // leakage exposure measured as the share of TEST users who also
    // have training history (entity leakage across a temporal cut —
    // per-user state learned in train scores their test rows). Cuts
    // are exact integer-µs arithmetic off a 1-row bounds broadcast;
    // one shuffle on user_id builds the per-user split profile; the
    // rollup is a 1-row constant-group agg (empty corpus → empty
    // audit, not a NULL row).
    "q_temporal_split" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val b = ev.groupBy(lit(1).as("one"))
        .agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
        .select(
          expr("mn + ((mx - mn) * 6) div 10").as("cut_train_us"),
          expr("mn + ((mx - mn) * 13) div 20").as("cut_test_us"))
      val u = ev.crossJoin(broadcast(b))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts_us") < col("cut_train_us"), 1L).otherwise(0L))
            .as("nt"),
          sum(when(col("ts_us") >= col("cut_train_us") &&
            col("ts_us") < col("cut_test_us"), 1L).otherwise(0L)).as("ne"),
          sum(when(col("ts_us") >= col("cut_test_us"), 1L).otherwise(0L))
            .as("nx"))
      u.groupBy(lit(1).as("one"))
        .agg(sum(col("nt")).as("n_train"), sum(col("ne")).as("n_embargo"),
          sum(col("nx")).as("n_test"),
          sum(when(col("nt") > 0L, 1L).otherwise(0L)).as("users_train"),
          sum(when(col("nx") > 0L, 1L).otherwise(0L)).as("users_test"),
          sum(when(col("nt") > 0L && col("nx") > 0L, 1L).otherwise(0L))
            .as("users_overlap"))
        .crossJoin(broadcast(b))
        .select(col("cut_train_us"), col("cut_test_us"), col("n_train"),
          col("n_embargo"), col("n_test"), col("users_train"),
          col("users_test"), col("users_overlap"),
          round(col("users_overlap").cast("double") /
            nullif(col("users_test"), lit(0L)).cast("double"), 9)
            .as("leak_share"))
    }),

    // Shuffle-key skew audit — the pre-flight a 100 TB job runs before
    // keying a join or aggregation: per candidate key, how heavy is
    // the heaviest hash partition going to be? Per-key counts collapse
    // to the count-of-counts grid (the q_good_turing / q_auc grid
    // discipline), so the exact lower-median and p99 key weights come
    // from ONE cumulative window over a grid-sized frame — never a
    // keys-sized global sort. skew_factor = max/avg key weight decides
    // the salting recommendation (cap 32, the shuffle-partition
    // count): exactly the fan-out q_salted_agg then applies. All
    // counts exact BIGINTs; the two shares are round-6 doubles of
    // exact integers; quantiles are integer threshold picks (2·cum ≥
    // n_keys, 100·cum ≥ 99·n_keys) — no float percentile.
    "q_skew_audit" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      val ev = Tables(s, d, "events")
      skewLeg(li, "lineitem.l_partkey", col("l_partkey"))
        .unionAll(skewLeg(li, "lineitem.l_suppkey", col("l_suppkey")))
        .unionAll(skewLeg(ev, "events.user_id", col("user_id")))
        .unionAll(skewLeg(ev, "events.event_type", col("event_type")))
        .orderBy(col("shuffle_key"))
    }),

    // Hill tail-index estimator (Hill 1975) over the same key-weight
    // distributions q_skew_audit medians — the OTHER half of the skew
    // pre-flight: not "how heavy is the heaviest key today" but "what
    // power law is this key distribution drawn from", i.e. does the
    // heaviest key GROW with the corpus (α ≤ 1: no mean; α < 2: no
    // variance — salting becomes mandatory, not advisory). α̂ =
    // k / Σᵢ ln(xᵢ/x₍ₖ₊₁₎) over the top k+1 = 51 key weights — a
    // TakeOrdered of 51 rows (never a global sort; VERDICT's
    // TakeOrderedAndProject discipline), ln terms rounded at 12 and
    // summed under DECIMAL (rows tied with the reference contribute
    // exactly 0, so ties cost nothing), one final round-9 division.
    // A degenerate flat top (Σ = 0) yields NULL, not ∞.
    "q_tail_index" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      val ev = Tables(s, d, "events")
      hillLeg(li, "lineitem.l_partkey", col("l_partkey"))
        .unionAll(hillLeg(li, "lineitem.l_suppkey", col("l_suppkey")))
        .unionAll(hillLeg(ev, "events.user_id", col("user_id")))
        .unionAll(hillLeg(ev, "events.event_type", col("event_type")))
        .orderBy(col("shuffle_key"))
    })
  )

  /** One (table, key) leg of the Hill estimator, package-visible for
    * planted-power-law specs. */
  private[graft] def hillLeg(df: DataFrame, tag: String,
      key: org.apache.spark.sql.Column): DataFrame = {
    val top = df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc).limit(51).select(col("cnt"))
    val r = top.agg(count(lit(1)).as("m"), min(col("cnt")).as("ref"))
    top.crossJoin(r)
      .select(col("m"), col("ref"),
        round(log(col("cnt").cast("double") / col("ref")), 12)
          .cast(DecimalType(24, 12)).as("term"))
      .groupBy(lit(1).as("one"))
      .agg(max(col("m")).as("m"), max(col("ref")).as("x_ref"),
        sum(col("term")).as("lnsum"))
      .withColumn("alpha",
        when(col("lnsum") > 0,
          round((col("m") - 1).cast("double") /
            col("lnsum").cast("double"), 9)))
      .select(lit(tag).as("shuffle_key"), (col("m") - 1).as("k_order"),
        col("x_ref"), col("alpha"),
        (col("alpha") < 2.0d).as("infinite_variance"))
  }

  /** One (table, key) leg of the shuffle-skew audit — package-visible
    * so specs can drive it with planted hot-key frames (the synthetic
    * tables are too uniform to fire the salting branch). */
  private[graft] def skewLeg(df: DataFrame, tag: String,
      key: org.apache.spark.sql.Column): DataFrame = {
        val counts = df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
        val grid = counts.groupBy(col("cnt"))
          .agg(count(lit(1)).as("keys_at"))
        val wCum = Window.orderBy(col("cnt"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val g = grid.withColumn("cum", sum(col("keys_at")).over(wCum))
        val tot = g.agg(sum(col("keys_at")).as("n_keys"),
          sum(col("cnt") * col("keys_at")).as("n_rows"),
          max(col("cnt")).as("max_cnt"))
        // groupBy a constant (not a bare agg) so an empty table yields
        // an empty audit row set, not a NULL row — EmptyInputSpec
        g.crossJoin(tot).groupBy(lit(1).as("one"))
          .agg(max(col("n_keys")).as("n_keys"),
            max(col("n_rows")).as("n_rows"),
            max(col("max_cnt")).as("max_cnt"),
            min(when(col("cum") * 2 >= col("n_keys"), col("cnt")))
              .as("median_cnt"),
            min(when(col("cum") * 100 >= col("n_keys") * 99, col("cnt")))
              .as("p99_cnt"))
          .withColumn("skew_factor",
            round(col("max_cnt").cast("double") * col("n_keys") /
              col("n_rows"), 6))
          .select(lit(tag).as("shuffle_key"), col("n_rows"), col("n_keys"),
            col("max_cnt"), col("median_cnt"), col("p99_cnt"),
            round(col("max_cnt").cast("double") / col("n_rows"), 6)
              .as("top1_share"),
            col("skew_factor"),
            when(col("skew_factor") > 4.0d,
              least(lit(32L), ceil(col("skew_factor")).cast("long")))
              .otherwise(1L).as("salt_buckets"))
  }

  /** One (table, key) leg of the q_skew_audit oracle, suffix-named so
    * all four legs share a single top-level WITH. */
  private def skewLegSql(table: String, key: String, tag: String,
                         i: Int): (String, String) = {
    val ctes =
      s"""counts_$i AS (
         |  SELECT $key AS k, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM $table GROUP BY $key),
         |grid_$i AS (
         |  SELECT cnt, CAST(COUNT(*) AS BIGINT) AS keys_at
         |  FROM counts_$i GROUP BY cnt),
         |g_$i AS (
         |  SELECT cnt, keys_at,
         |    CAST(SUM(keys_at) OVER (ORDER BY cnt
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM grid_$i),
         |tot_$i AS (
         |  SELECT CAST(SUM(keys_at) AS BIGINT) AS n_keys,
         |    CAST(SUM(cnt * keys_at) AS BIGINT) AS n_rows,
         |    MAX(cnt) AS max_cnt FROM g_$i),
         |m_$i AS (
         |  SELECT 1 AS one,
         |    MAX(n_keys) AS n_keys, MAX(n_rows) AS n_rows,
         |    MAX(max_cnt) AS max_cnt,
         |    MIN(CASE WHEN 2 * cum >= n_keys THEN cnt END) AS median_cnt,
         |    MIN(CASE WHEN 100 * cum >= 99 * n_keys THEN cnt END)
         |      AS p99_cnt
         |  FROM g_$i CROSS JOIN tot_$i GROUP BY 1)""".stripMargin
    val sel =
      s"""SELECT '$tag' AS shuffle_key, n_rows, n_keys, max_cnt,
         |  median_cnt, p99_cnt,
         |  round(CAST(max_cnt AS DOUBLE) / n_rows, 6) AS top1_share,
         |  round(CAST(max_cnt AS DOUBLE) * n_keys / n_rows, 6)
         |    AS skew_factor,
         |  CASE WHEN round(CAST(max_cnt AS DOUBLE) * n_keys / n_rows, 6)
         |      > 4.0
         |    THEN LEAST(32, CAST(CEIL(round(CAST(max_cnt AS DOUBLE)
         |      * n_keys / n_rows, 6)) AS BIGINT))
         |    ELSE 1 END AS salt_buckets
         |FROM m_$i""".stripMargin
    (ctes, sel)
  }

  /** One (table, key) leg of the q_tail_index oracle, suffix-named so
    * all four legs share a single top-level WITH. */
  private def hillLegSql(table: String, key: String, tag: String,
                         i: Int): (String, String) = {
    val ctes =
      s"""htop_$i AS (
         |  SELECT cnt FROM (
         |    SELECT $key AS k, CAST(COUNT(*) AS BIGINT) AS cnt
         |    FROM $table GROUP BY $key)
         |  ORDER BY cnt DESC LIMIT 51),
         |hr_$i AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS m, MIN(cnt) AS ref
         |  FROM htop_$i),
         |hs_$i AS (
         |  SELECT 1 AS one, MAX(m) AS m, MAX(ref) AS x_ref,
         |    SUM(CAST(round(ln(CAST(cnt AS DOUBLE) / ref), 12)
         |      AS DECIMAL(24,12))) AS lnsum
         |  FROM htop_$i CROSS JOIN hr_$i GROUP BY 1)""".stripMargin
    val sel =
      s"""SELECT '$tag' AS shuffle_key, m - 1 AS k_order, x_ref,
         |  CASE WHEN lnsum > 0 THEN
         |    round(CAST(m - 1 AS DOUBLE) / CAST(lnsum AS DOUBLE), 9)
         |  END AS alpha,
         |  (CASE WHEN lnsum > 0 THEN
         |    round(CAST(m - 1 AS DOUBLE) / CAST(lnsum AS DOUBLE), 9)
         |  END) < 2.0 AS infinite_variance
         |FROM hs_$i""".stripMargin
    (ctes, sel)
  }

  /** The 16-term bit interleave, generated once for both engines. */
  private[operators] def zTermsSql: String = (0 until 8).map(i =>
    s"((((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1}))")
    .mkString(" + ")

  /** DuckDB twin of [[zorderEvents]]: the `ev` (event_id, a, b) and
    * `z` (event_id, a, b, zkey) CTEs of q_zorder_layout,
    * q_zonemap_prune and q_stream_zonemap. */
  private[operators] val zorderEvDuck: String =
    s"""ev AS (
       |  SELECT event_id, user_id % 256 AS a,
       |    CAST(floor(epoch(ts) / 86400) AS BIGINT) % 256 AS b
       |  FROM events),
       |z AS (SELECT event_id, a, b, CAST($zTermsSql AS BIGINT) AS zkey FROM ev)""".stripMargin

  /** DuckDB twin of the seq-pack token spans ([[seqPackToks]],
    * [[seqPackSpans]]): per doc its token count, its running start
    * offset within its source, and x = one row per 128-token sequence
    * the doc touches. */
  private val seqPackSpansDuck: String =
    s"""toks AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |spans AS (
       |  SELECT source, doc_id, tok,
       |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS strt
       |  FROM toks),
       |x AS (
       |  SELECT source, doc_id, tok, strt, strt + tok AS fin,
       |    unnest(range(CAST(strt // 128 AS BIGINT),
       |      CAST((strt + tok - 1) // 128 + 1 AS BIGINT))) AS seq_id
       |  FROM spans WHERE tok > 0)""".stripMargin

  /** The as-of oracles' input: clicks and purchases of events in one
    * frame, merged(event_id, user_id, event_type, ts_us, is_click,
    * p_ts). */
  private val asofMergedDuck: String =
    s"""merged AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
       |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
       |    CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS p_ts
       |  FROM events WHERE event_type IN ('click', 'purchase'))""".stripMargin

  /** The backward as-of join (q_asof_join, q_asof_join_native): each
    * click's latest purchase at or before it. */
  private val asofBackwardSqlDuck: String =
    s"""WITH $asofMergedDuck
       |SELECT event_id, user_id, ts_us, last_purchase_us FROM (
       |  SELECT event_id, user_id, event_type, ts_us,
       |    MAX(p_ts) OVER (PARTITION BY user_id
       |                    ORDER BY ts_us, is_click, event_id
       |                    ROWS UNBOUNDED PRECEDING) AS last_purchase_us
       |  FROM merged) t
       |WHERE event_type = 'click'
       |ORDER BY event_id""".stripMargin

  def oracles: Map[String, String] = Map(
    // decrement path and rescan path both stated; match pinned true
    "q_erasure_maintenance" ->
      """WITH ev AS (
        |  SELECT event_type, user_id,
        |    CAST(value AS DECIMAL(12,2)) AS y
        |  FROM events),
        |base AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS s
        |  FROM ev GROUP BY event_type),
        |del AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS dn, SUM(y) AS ds
        |  FROM ev WHERE user_id % 97 = 0 GROUP BY event_type),
        |maintained AS (
        |  SELECT base.event_type,
        |    base.n - COALESCE(dn, 0) AS n_maintained,
        |    base.s - COALESCE(ds, base.s - base.s) AS s_maintained,
        |    COALESCE(dn, 0) AS n_erased
        |  FROM base LEFT JOIN del ON base.event_type = del.event_type),
        |rescan AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rescan,
        |    SUM(y) AS s_rescan
        |  FROM ev WHERE NOT user_id % 97 = 0 GROUP BY event_type)
        |SELECT m.event_type, CAST(n_erased AS BIGINT) AS n_erased,
        |  CAST(n_maintained AS BIGINT) AS n_maintained,
        |  CAST(s_maintained AS DOUBLE) AS total_maintained,
        |  n_maintained = n_rescan AND s_maintained = s_rescan
        |    AS matches_rescan
        |FROM maintained m JOIN rescan r ON m.event_type = r.event_type
        |ORDER BY m.event_type""".stripMargin,

    // Laplace inverse CDF over the same cell-keyed md5 uniform
    "q_dp_counts" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2),
        |noised AS (
        |  SELECT seg, nat, n,
        |    (CAST(CAST(('0x' || substr(md5(seg || ':' ||
        |       CAST(nat AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE) + 1)
        |      / (pow(16, 13) + 1) - 0.5 AS c
        |  FROM cells)
        |SELECT seg, nat, CAST(0.5 AS DOUBLE) AS epsilon,
        |  round(n + (-sign(c) * 2.0 *
        |    ln(greatest(1e-15, 1.0 - 2.0 * abs(c)))), 6) AS noisy_n
        |FROM noised ORDER BY seg, nat""".stripMargin,

    // pre-image stats restated from the manifest; post columns pinned
    // as their conserved values (the q_stream_hll constant-contract
    // pattern) — Spark computes them from the actually-committed
    // objects, so any rewrite loss reds this row. The per-record hash
    // folds in the record's 0-based ordinal within its bin (r13), so
    // the summed checksum is order-sensitive despite the commutative
    // combine.
    "q_compaction_exec" ->
      """WITH manifest AS (
        |  SELECT source, doc_id, n_chars, text,
        |    COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_prev
        |  FROM documents),
        |b0 AS (SELECT source, doc_id, n_chars,
        |         CAST(('0x' || substr(md5(
        |           CAST(ROW_NUMBER() OVER (PARTITION BY source
        |             ORDER BY doc_id) - 1 AS VARCHAR)
        |           || '|' || CAST(doc_id AS VARCHAR) || '|' ||
        |           text), 1, 8)) AS BIGINT) AS chk
        |       FROM manifest WHERE cum_prev // 16384 = 0)
        |SELECT source, CAST(0 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_files_pre,
        |  CAST(SUM(n_chars) AS BIGINT) AS bytes_pre,
        |  CAST(1 AS BIGINT) AS n_objects_post,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows_post,
        |  CAST(SUM(chk) AS BIGINT) AS checksum_pre,
        |  CAST(SUM(chk) AS BIGINT) AS checksum_post,
        |  TRUE AS conserved
        |FROM b0 GROUP BY source ORDER BY source""".stripMargin,

    "q_compaction_plan" ->
      """WITH manifest AS (
        |  SELECT source, doc_id, n_chars,
        |    COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_prev
        |  FROM documents)
        |SELECT source, CAST(cum_prev // 16384 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(n_chars) AS BIGINT) AS bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  round(CAST(SUM(n_chars) AS DOUBLE) / 16384.0, 6) AS fill_ratio
        |FROM manifest GROUP BY source, cum_prev // 16384
        |ORDER BY source, bin""".stripMargin,

    "q_full_outer" ->
      """WITH c AS (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment <> 'MACHINERY'),
        |oa AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey)
        |SELECT COALESCE(c.c_custkey, oa.o_custkey) AS custkey,
        |  c.c_custkey IS NOT NULL AS has_customer,
        |  COALESCE(oa.n_orders, 0) AS n_orders,
        |  COALESCE(CAST(oa.spend AS DOUBLE), 0.0) AS spend
        |FROM c FULL OUTER JOIN oa ON c.c_custkey = oa.o_custkey
        |ORDER BY custkey""".stripMargin,

    // the long shape directly: the unpivot must equal the never-
    // widened aggregate including explicit zero cells
    "q_unpivot" ->
      """WITH grid AS (
        |  SELECT b.ubucket, t.event_type
        |  FROM (SELECT DISTINCT user_id % 10 AS ubucket FROM events) b,
        |       (VALUES ('click'), ('view'), ('purchase'), ('signup'),
        |               ('error')) t(event_type)),
        |cnt AS (
        |  SELECT user_id % 10 AS ubucket, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE event_type IN ('click','view','purchase','signup','error')
        |  GROUP BY 1, 2)
        |SELECT g.ubucket, g.event_type, COALESCE(c.n, 0) AS n
        |FROM grid g LEFT JOIN cnt c
        |  ON g.ubucket = c.ubucket AND g.event_type = c.event_type
        |ORDER BY g.ubucket, g.event_type""".stripMargin,

    "q_dq_checks" ->
      """WITH rowchecks AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COALESCE(SUM(CASE WHEN o_custkey IS NOT NULL
        |                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_nn,
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS c_uniq,
        |    CAST(COALESCE(SUM(CASE WHEN o_totalprice > 0
        |                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_pos,
        |    CAST(COALESCE(SUM(CASE WHEN o_orderstatus IN ('O','F','P')
        |              THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_dom
        |  FROM orders),
        |rc AS (
        |  SELECT 'completeness:o_custkey' AS check, c_nn AS satisfied, n
        |    FROM rowchecks
        |  UNION ALL SELECT 'uniqueness:o_orderkey', c_uniq, n FROM rowchecks
        |  UNION ALL SELECT 'positivity:o_totalprice', c_pos, n FROM rowchecks
        |  UNION ALL SELECT 'domain:o_orderstatus', c_dom, n FROM rowchecks),
        |fk AS (SELECT DISTINCT o_custkey FROM orders),
        |ri AS (
        |  SELECT 'referential:o_custkey->customer' AS check,
        |    CAST((SELECT COUNT(*) FROM fk) -
        |         (SELECT COUNT(*) FROM fk
        |          WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |      AS BIGINT) AS satisfied,
        |    CAST((SELECT COUNT(*) FROM fk) AS BIGINT) AS n),
        |alltogether AS (SELECT * FROM rc UNION ALL SELECT * FROM ri)
        |SELECT "check",
        |  CASE WHEN n > 0
        |    THEN round(CAST(satisfied AS DOUBLE) / CAST(n AS DOUBLE), 9)
        |    ELSE 1.0 END AS metric,
        |  satisfied = n AS passed
        |FROM alltogether ORDER BY "check"""".stripMargin,

    // the IVM contract stated as SQL: the merged partials must equal
    // THIS full rescan, bit for bit
    "q_incremental_agg" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS y
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(y) AS DOUBLE) AS total,
        |  CAST(SUM(y) AS DOUBLE) / COUNT(*) AS avg
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same rollup ladder; DuckDB's GROUPING() bits reconstruct Spark's
    // grouping_id (first rollup expr = most significant bit)
    "q_kanon" ->
      """WITH classes AS (
        |  SELECT
        |    GROUPING(seg) * 4 + GROUPING(nat) * 2 + GROUPING(bal_band)
        |      AS gid,
        |    COUNT(*) AS n
        |  FROM (
        |    SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |      CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band
        |    FROM customer) t
        |  GROUP BY ROLLUP(seg, nat, bal_band))
        |SELECT CAST(gid AS BIGINT) AS level,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) = 0 AS satisfies_k
        |FROM classes WHERE gid IN (0, 1, 3)
        |GROUP BY gid ORDER BY level""".stripMargin,

    // same deterministic v2 construction, same tracked-column compare
    "q_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey AS k, o_custkey, o_orderstatus, o_orderpriority
        |  FROM orders),
        |v2 AS (
        |  SELECT k, o_custkey, o_orderstatus,
        |    CASE WHEN k % 7 = 0 THEN 'X-CHANGED' ELSE o_orderpriority END
        |      AS o_orderpriority
        |  FROM v1 WHERE k % 13 <> 0
        |  UNION ALL
        |  SELECT k + 1000000000, o_custkey, o_orderstatus, o_orderpriority
        |  FROM v1 WHERE k % 11 = 0),
        |d AS (
        |  SELECT COALESCE(a.k, b.k) AS o_orderkey,
        |    CASE WHEN a.k IS NULL THEN 'added'
        |         WHEN b.k IS NULL THEN 'removed'
        |         WHEN a.o_custkey <> b.o_custkey
        |           OR a.o_orderstatus <> b.o_orderstatus
        |           OR a.o_orderpriority <> b.o_orderpriority THEN 'changed'
        |    END AS status,
        |    a.o_orderpriority AS old_priority,
        |    b.o_orderpriority AS new_priority
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k)
        |SELECT o_orderkey, status, old_priority, new_priority
        |FROM d WHERE status IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    // same cell pass, same round-9 DECIMAL entropy sum, same ln(L)
    // thresholds
    "q_ldiversity" ->
      """WITH cells AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat,
        |    CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |    c_mktsegment AS seg, COUNT(*) AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |wc AS (
        |  SELECT nat, bal_band, c,
        |    SUM(c) OVER (PARTITION BY nat, bal_band) AS n
        |  FROM cells)
        |SELECT nat, bal_band, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_sensitive,
        |  CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS DECIMAL(24,9)))
        |    AS DOUBLE) AS entropy,
        |  COUNT(*) >= 3 AS distinct_l,
        |  CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS DECIMAL(24,9)))
        |    AS DOUBLE) >= ln(3.0) AS entropy_l
        |FROM wc GROUP BY nat, bal_band ORDER BY nat, bal_band""".stripMargin,

    // same cell/class frames, same round-9 DECIMAL contribution sum;
    // the grid join restates the full-alphabet semantics
    "q_tcloseness" ->
      """WITH base AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat,
        |    CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
        |    c_mktsegment AS seg
        |  FROM customer),
        |cells AS (SELECT nat, bal_band, seg, CAST(COUNT(*) AS BIGINT) AS c
        |          FROM base GROUP BY 1, 2, 3),
        |cls AS (SELECT nat, bal_band, CAST(SUM(c) AS BIGINT) AS n
        |        FROM cells GROUP BY 1, 2),
        |gm AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS g FROM base
        |         GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM base),
        |grid AS (
        |  SELECT cls.nat, cls.bal_band, cls.n, gm.seg, gm.g, tot.nn
        |  FROM cls, gm, tot),
        |contrib AS (
        |  SELECT grid.nat, grid.bal_band, grid.n,
        |    ROUND(ABS(CAST(COALESCE(cells.c, 0) AS DOUBLE) / grid.n -
        |              CAST(grid.g AS DOUBLE) / grid.nn) * 0.5, 9) AS ct
        |  FROM grid LEFT JOIN cells
        |    ON cells.nat = grid.nat AND cells.bal_band = grid.bal_band
        |   AND cells.seg = grid.seg)
        |SELECT nat, bal_band, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ct AS DECIMAL(24,9))) AS DOUBLE) AS tvd,
        |  CAST(SUM(CAST(ct AS DECIMAL(24,9))) AS DOUBLE)
        |    <= 0.35 AS satisfies_t
        |FROM contrib GROUP BY nat, bal_band
        |ORDER BY nat, bal_band""".stripMargin,

    // same custkey agg, same segment-partitioned rank quintiles, same
    // integer score arithmetic and label CASE
    "q_rfm" ->
      """WITH pc AS (
        |  SELECT o_custkey AS custkey, MAX(o_orderdate) AS last_order,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |      AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |hw AS (SELECT MAX(o_orderdate) AS hwm FROM orders),
        |base AS (
        |  SELECT pc.custkey, c.c_mktsegment AS seg,
        |    CAST(date_diff('day', CAST(pc.last_order AS DATE),
        |      CAST(hw.hwm AS DATE)) AS BIGINT) AS recency_days,
        |    pc.frequency, pc.monetary
        |  FROM pc JOIN customer c ON c.c_custkey = pc.custkey, hw),
        |rk AS (
        |  SELECT base.*, COUNT(*) OVER (PARTITION BY seg) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY seg
        |      ORDER BY recency_days, custkey) AS rk_r,
        |    ROW_NUMBER() OVER (PARTITION BY seg
        |      ORDER BY frequency DESC, custkey) AS rk_f,
        |    ROW_NUMBER() OVER (PARTITION BY seg
        |      ORDER BY monetary DESC, custkey) AS rk_m
        |  FROM base),
        |sc AS (
        |  SELECT custkey, seg, recency_days, frequency, monetary,
        |    CAST(5 - ((rk_r - 1) * 5) // n AS BIGINT) AS r_score,
        |    CAST(5 - ((rk_f - 1) * 5) // n AS BIGINT) AS f_score,
        |    CAST(5 - ((rk_m - 1) * 5) // n AS BIGINT) AS m_score
        |  FROM rk)
        |SELECT custkey, seg, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score = 5 AND f_score >= 4 THEN 'champion'
        |       WHEN f_score >= 4 THEN 'loyal'
        |       WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        |       WHEN r_score <= 2 THEN 'hibernating'
        |       ELSE 'regular' END AS label
        |FROM sc ORDER BY custkey""".stripMargin,

    "q_zorder_layout" ->
      s"""WITH $zorderEvDuck
        |SELECT event_id, zkey, CAST(zkey >> 4 AS BIGINT) AS zcell
        |FROM z ORDER BY zkey, event_id""".stripMargin,

    "q_zonemap_prune" ->
      s"""WITH $zorderEvDuck,
        |mx AS (SELECT MAX(event_id) AS mx FROM ev),
        |rws AS (
        |  SELECT event_id, a, b,
        |    CAST(floor(event_id * 256 / (mx + 1)) AS BIGINT) AS file_naive,
        |    CAST(zkey >> 4 AS BIGINT) AS file_z
        |  FROM z, mx),
        |stacked AS (
        |  SELECT 'naive' AS layout, file_naive AS f, a, b FROM rws
        |  UNION ALL
        |  SELECT 'zorder', file_z, a, b FROM rws),
        |zones AS (
        |  SELECT layout, f, MIN(a) AS min_a, MAX(a) AS max_a,
        |    MIN(b) AS min_b, MAX(b) AS max_b, COUNT(*) AS n_rows
        |  FROM stacked GROUP BY layout, f),
        |preds(pred, alo, ahi, blo, bhi) AS (VALUES
        |  ('a_8_15', 8, 15, NULL, NULL),
        |  ('b_20_23', NULL, NULL, 20, 23),
        |  ('both', 8, 15, 20, 23)),
        |scan AS (
        |  SELECT layout, pred, CAST(COUNT(*) AS BIGINT) AS n_files,
        |    CAST(COUNT(CASE WHEN
        |      (alo IS NULL OR (max_a >= alo AND min_a <= ahi)) AND
        |      (blo IS NULL OR (max_b >= blo AND min_b <= bhi))
        |      THEN 1 END) AS BIGINT) AS files_scanned,
        |    CAST(SUM(CASE WHEN
        |      (alo IS NULL OR (max_a >= alo AND min_a <= ahi)) AND
        |      (blo IS NULL OR (max_b >= blo AND min_b <= bhi))
        |      THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
        |  FROM zones CROSS JOIN preds GROUP BY layout, pred),
        |matched AS (
        |  SELECT pred, CAST(COUNT(CASE WHEN
        |      (alo IS NULL OR (a BETWEEN alo AND ahi)) AND
        |      (blo IS NULL OR (b BETWEEN blo AND bhi))
        |      THEN 1 END) AS BIGINT) AS rows_matched
        |  FROM rws CROSS JOIN preds GROUP BY pred)
        |SELECT layout, pred, n_files, files_scanned, rows_scanned,
        |  rows_matched,
        |  round(1 - files_scanned / CAST(n_files AS DOUBLE), 9) AS skip_frac,
        |  round(rows_scanned / CAST(nullif(rows_matched, 0) AS DOUBLE), 9)
        |    AS read_amp
        |FROM scan JOIN matched USING (pred)
        |ORDER BY layout, pred""".stripMargin,

    "q_scd2" ->
      """WITH log AS (
        |  SELECT user_id, event_type AS attr, epoch_us(ts) AS ts_us, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |changes AS (
        |  SELECT user_id, attr, ts_us, event_id FROM log
        |  WHERE prev IS NULL OR prev <> attr)
        |SELECT user_id, attr,
        |  ts_us AS valid_from_us,
        |  LEAD(ts_us) OVER (PARTITION BY user_id
        |                    ORDER BY ts_us, event_id) AS valid_to_us,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                          ORDER BY ts_us, event_id) AS BIGINT) AS version,
        |  LEAD(ts_us) OVER (PARTITION BY user_id
        |                    ORDER BY ts_us, event_id) IS NULL AS is_current
        |FROM changes
        |ORDER BY user_id, version""".stripMargin,

    "q_setops" ->
      """SELECT 'intersect' AS set_op, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') a
        |UNION ALL
        |SELECT 'except' AS set_op, o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') b
        |ORDER BY set_op, o_custkey""".stripMargin,

    "q_pivot" ->
      """SELECT user_id % 10 AS ubucket,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS "view",
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_string_agg" ->
      """SELECT c_mktsegment,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names,
        |  COUNT(*) AS n
        |FROM customer WHERE c_custkey < 50
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_cube" ->
      """SELECT event_type, user_id % 5 AS ub, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY CUBE(event_type, user_id % 5)
        |ORDER BY event_type NULLS FIRST, ub NULLS FIRST""".stripMargin,

    "q_mixture_sample" ->
      """SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |                AS INTEGER)
        |           < (CASE WHEN CAST(substr(source, 4) AS INTEGER) < 5 THEN 1.0
        |                   WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 0.5
        |                   WHEN CAST(substr(source, 4) AS INTEGER) < 15 THEN 0.25
        |                   ELSE 0.1 END) * 65536
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_epoch_upsample" ->
      """WITH wt AS (
        |  SELECT source, doc_id,
        |    (CASE WHEN CAST(substr(source, 4) AS INTEGER) < 5 THEN 2.3
        |          WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 1.0
        |          WHEN CAST(substr(source, 4) AS INTEGER) < 15 THEN 0.5
        |          ELSE 0.1 END) AS w,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |         AS INTEGER) AS b
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id,
        |    CAST(floor(w) AS BIGINT) +
        |      (CASE WHEN b < (w - floor(w)) * 65536 THEN 1 ELSE 0 END) AS copies
        |  FROM wt),
        |e AS (SELECT source, doc_id, unnest(range(1, copies + 1)) AS copy_no
        |      FROM c)
        |SELECT source, COUNT(DISTINCT doc_id) AS n_docs_in,
        |  COUNT(*) AS n_emitted
        |FROM e GROUP BY source ORDER BY source""".stripMargin,

    // every ingredient restated from its shipped definition: exact-dup
    // keeper rule (global md5 groups, min doc_id), whitespace token
    // count, exact-sum mean, (count desc, lang) mode tiebreak
    "q_curation_report" ->
      """WITH docs AS (
        |  SELECT source, doc_id, lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(text) AS h
        |  FROM documents),
        |keepers AS (SELECT h, MIN(doc_id) AS keeper_id FROM docs GROUP BY h),
        |flagged AS (
        |  SELECT d.*, CASE WHEN d.doc_id <> k.keeper_id THEN 1 ELSE 0 END
        |    AS is_dup
        |  FROM docs d JOIN keepers k USING (h)),
        |vol AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |    round(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |      AS mean_chars,
        |    round(CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |      AS dup_frac
        |  FROM flagged GROUP BY source),
        |top_lang AS (
        |  SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang,
        |      ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY COUNT(*) DESC, lang) AS rk
        |    FROM docs GROUP BY source, lang) t
        |  WHERE rk = 1)
        |SELECT vol.source, n_docs, n_tokens, mean_chars, dup_frac, top_lang
        |FROM vol JOIN top_lang ON vol.source = top_lang.source
        |ORDER BY vol.source""".stripMargin,

    // same md5 shard key, same integer token proxy, same mean ratio
    "q_shard_plan" ->
      """WITH s AS (
        |  SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |           AS INTEGER) AS BIGINT) % 32 AS shard,
        |    n_chars
        |  FROM documents),
        |g AS (
        |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
        |    CAST(SUM(n_chars // 4) AS BIGINT) AS n_tokens
        |  FROM s GROUP BY shard)
        |SELECT shard, n_docs, n_bytes, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) * COUNT(*) OVER () /
        |    CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) AS load_ratio
        |FROM g ORDER BY shard""".stripMargin,

    // same floor/mod apportionment, same (rem desc, source) tiebreak
    // same prefix-sum spans, same bounded unnest over the seq range,
    // integer token arithmetic end-to-end
    "q_seq_pack" ->
      s"""WITH $seqPackSpansDuck,
        |seg AS (
        |  SELECT source, seq_id, doc_id, strt,
        |    LEAST(fin, (seq_id + 1) * 128) -
        |      GREATEST(strt, seq_id * 128) AS seg
        |  FROM x)
        |SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN strt // 128 = seq_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_doc_starts,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  CAST(SUM(seg) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(seg) AS DOUBLE) / 128.0, 6) AS fill_ratio
        |FROM seg GROUP BY source, seq_id
        |ORDER BY source, seq_id""".stripMargin,

    // the seg frame one GROUP BY earlier, reported at segment grain
    "q_seq_manifest" ->
      s"""WITH $seqPackSpansDuck
        |SELECT source, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        |  CAST(GREATEST(strt, seq_id * 128) - seq_id * 128 AS BIGINT)
        |    AS off_in_seq,
        |  CAST(LEAST(fin, (seq_id + 1) * 128) -
        |    GREATEST(strt, seq_id * 128) AS BIGINT) AS seg_tokens,
        |  strt // 128 = seq_id AS is_doc_start
        |FROM x ORDER BY source, seq_id, off_in_seq""".stripMargin,

    "q_token_budget" ->
"""WITH src AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM src),
        |based AS (
        |  SELECT source, w,
        |    CAST((10000000 * w) // wt AS BIGINT) AS base,
        |    CAST((10000000 * w) % wt AS BIGINT) AS rem
        |  FROM src, tot),
        |ranked AS (
        |  SELECT source, w, base,
        |    10000000 - SUM(base) OVER () AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rn
        |  FROM based)
        |SELECT source, w,
        |  CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM ranked ORDER BY source""".stripMargin,

    "q_split_hash" ->
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |       AS INTEGER) AS BIGINT) AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |            AS INTEGER) < 58982 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |            AS INTEGER) < 62259 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the A-ES key restated term-for-term: same md5-uniform, same
    // ln(u)/w, same round-at-9 DECIMAL, same (key DESC, doc_id) order
    // — but the key itself stays in ORDER BY only (rank is emitted;
    // emitting the rounded transcendental was ULP/dtype-brittle
    // against a byte-level hash compare)
    "q_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, source,
        |    CAST(greatest(n_chars, 1) AS BIGINT) AS weight,
        |    CAST(round(ln(
        |        (CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |              AS BIGINT) AS DOUBLE) + 1) / (pow(16, 13) + 1))
        |      / CAST(greatest(n_chars, 1) AS DOUBLE), 9) AS DECIMAL(15,9))
        |      AS es_key
        |  FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS BIGINT)
        |    AS rk, doc_id, source, weight
        |FROM keyed
        |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,

    // per-source rank over the identical A-ES key
    "q_stratified_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, source,
        |    CAST(greatest(n_chars, 1) AS BIGINT) AS weight,
        |    CAST(round(ln(
        |        (CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |              AS BIGINT) AS DOUBLE) + 1) / (pow(16, 13) + 1))
        |      / CAST(greatest(n_chars, 1) AS DOUBLE), 9) AS DECIMAL(15,9))
        |      AS es_key
        |  FROM documents),
        |ranked AS (
        |  SELECT source, doc_id, weight,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY es_key DESC, doc_id) AS BIGINT) AS rk
        |  FROM keyed)
        |SELECT source, rk, doc_id, weight FROM ranked
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin,

    // Forward window: clicks sort before purchases at equal ts
    // (is_click DESC) so a same-instant purchase is inside the
    // CURRENT ROW..FOLLOWING frame — mirroring the inclusive rt >= lt.
    "q_asof_join_fwd" ->
      s"""WITH $asofMergedDuck
        |SELECT event_id, user_id, ts_us,
        |  CASE WHEN np - ts_us <= 7200000000 THEN np END AS next_purchase_us
        |FROM (
        |  SELECT event_id, user_id, event_type, ts_us,
        |    MIN(p_ts) OVER (PARTITION BY user_id
        |                    ORDER BY ts_us, is_click DESC, event_id
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
        |  FROM merged) t
        |WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,

    // The oracle states the range join directly (DuckDB's IEJoin handles
    // the inequality); the Spark side must produce the identical pairs
    // through the binned equi-join.
    "q_range_join" ->
      """WITH promos AS (
        |  SELECT event_id AS promo_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + 7200000000 AS end_us
        |  FROM events WHERE event_type = 'purchase' AND user_id < 3)
        |SELECT p.promo_id, e.event_id, epoch_us(e.ts) AS ts_us
        |FROM events e JOIN promos p
        |  ON epoch_us(e.ts) >= p.start_us AND epoch_us(e.ts) < p.end_us
        |WHERE e.event_type = 'click'
        |ORDER BY p.promo_id, e.event_id""".stripMargin,

    // same one-window gaps-and-islands decomposition: running max of
    // preceding ends flags island starts, cumulative sum numbers them,
    // per-island [min ts, max end) spans sum into covered time
    "q_interval_union_len" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) + 1800000000 AS end_us
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts_us, end_us,
        |    CASE WHEN ts_us > COALESCE(MAX(end_us) OVER (
        |        PARTITION BY user_id ORDER BY ts_us
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        -9223372036854775808)
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM iv),
        |w AS (
        |  SELECT user_id, ts_us, end_us,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |isl AS (
        |  SELECT user_id, island, MIN(ts_us) AS s, MAX(end_us) AS e
        |  FROM w GROUP BY user_id, island)
        |SELECT user_id, CAST(SUM(e - s) AS BIGINT) AS covered_us,
        |  COUNT(*) AS n_islands
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_asof_join" ->
      asofBackwardSqlDuck,

    "q_asof_join_nearest" ->
      s"""WITH $asofMergedDuck,
        |framed AS (
        |  SELECT event_id, user_id, event_type, ts_us,
        |    MAX(p_ts) OVER (PARTITION BY user_id
        |                    ORDER BY ts_us, is_click, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS last_us,
        |    MIN(p_ts) OVER (PARTITION BY user_id
        |                    ORDER BY ts_us, is_click, event_id
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS next_us
        |  FROM merged)
        |SELECT event_id, user_id, ts_us, nearest_us,
        |  CASE WHEN nearest_us IS NULL THEN NULL
        |       WHEN nearest_us = last_us THEN 'backward'
        |       ELSE 'forward' END AS direction
        |FROM (
        |  SELECT event_id, user_id, ts_us, last_us,
        |    CASE WHEN last_us IS NULL THEN next_us
        |         WHEN next_us IS NULL THEN last_us
        |         WHEN ts_us - last_us <= next_us - ts_us THEN last_us
        |         ELSE next_us END AS nearest_us
        |  FROM framed WHERE event_type = 'click') t
        |ORDER BY event_id""".stripMargin,

    // identical oracle text, different (native) Spark execution path
    "q_asof_join_native" ->
      asofBackwardSqlDuck,

    // three generated legs: grid thresholds, literal-array buckets
    "q_equi_depth_hist" -> {
      val legs = Seq(
        ("lineitem", "l_extendedprice", "lineitem.l_extendedprice"),
        ("orders", "o_totalprice", "orders.o_totalprice"),
        ("events", "value", "events.value"))
        .zipWithIndex.map { case ((t, vc, tag), i) =>
          val bs = (1 to 9).map(kk =>
            s"MIN(CASE WHEN cum * 10 >= n * $kk THEN v END) AS b$kk")
            .mkString(",\n    ")
          val bucketExpr = (1 to 9).map(kk =>
            s"(CASE WHEN v > b$kk THEN 1 ELSE 0 END)").mkString(" + ")
          val ctes =
            s"""eg_$i AS (
               |  SELECT v, CAST(COUNT(*) AS BIGINT) AS k FROM (
               |    SELECT CAST(CAST($vc AS DECIMAL(12,2)) * 100
               |      AS BIGINT) AS v FROM $t)
               |  GROUP BY v),
               |ec_$i AS (
               |  SELECT v, k,
               |    CAST(SUM(k) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               |      AS BIGINT) AS cum,
               |    CAST(SUM(k) OVER () AS BIGINT) AS n
               |  FROM eg_$i),
               |eb_$i AS (
               |  SELECT $bs,
               |    MAX(n) AS n_total
               |  FROM ec_$i)""".stripMargin
          val sel =
            s"""SELECT '$tag' AS column_name, bucket, hi_boundary,
               |  CAST(SUM(k) AS BIGINT) AS n_bucket,
               |  round(CAST(SUM(k) AS DOUBLE) * 10 / MAX(n_total), 9)
               |    AS depth_ratio
               |FROM (
               |  SELECT k, n_total,
               |    CAST(1 + $bucketExpr AS BIGINT) AS bucket,
               |    CASE WHEN 1 + $bucketExpr <= 9 THEN
               |      [b1, b2, b3, b4, b5, b6, b7, b8, b9]
               |        [1 + $bucketExpr] END AS hi_boundary
               |  FROM ec_$i CROSS JOIN eb_$i)
               |GROUP BY bucket, hi_boundary""".stripMargin
          (ctes, sel)
        }
      s"""WITH ${legs.map(_._1).mkString(",\n")}
         |SELECT * FROM (
         |${legs.map(l => s"(${l._2})").mkString("\nUNION ALL\n")}
         |) ORDER BY column_name, bucket""".stripMargin
    },

    // same vnode rings, successor rule as correlated ORDER/LIMIT picks
    "q_hash_ring" ->
      """WITH keys AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |      AS BIGINT) AS kh
        |  FROM documents),
        |vn32 AS (
        |  SELECT s.shard,
        |    CAST(('0x' || substr(md5('shard' || CAST(s.shard AS VARCHAR)
        |      || '#' || CAST(v.v AS VARCHAR)), 1, 13)) AS BIGINT) AS vh
        |  FROM (SELECT unnest(range(0, 32)) AS shard) s
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS v) v),
        |vn33 AS (
        |  SELECT s.shard,
        |    CAST(('0x' || substr(md5('shard' || CAST(s.shard AS VARCHAR)
        |      || '#' || CAST(v.v AS VARCHAR)), 1, 13)) AS BIGINT) AS vh
        |  FROM (SELECT unnest(range(0, 33)) AS shard) s
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS v) v),
        |a AS (
        |  SELECT doc_id,
        |    COALESCE(
        |      (SELECT shard FROM vn32 WHERE vh >= k.kh
        |       ORDER BY vh, shard LIMIT 1),
        |      (SELECT shard FROM vn32 ORDER BY vh, shard LIMIT 1))
        |      AS s32,
        |    COALESCE(
        |      (SELECT shard FROM vn33 WHERE vh >= k.kh
        |       ORDER BY vh, shard LIMIT 1),
        |      (SELECT shard FROM vn33 ORDER BY vh, shard LIMIT 1))
        |      AS s33
        |  FROM keys k),
        |ring AS (
        |  SELECT 'ring_vnodes' AS strategy,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CASE WHEN s32 <> s33 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_moved
        |  FROM a GROUP BY 1),
        |m AS (
        |  SELECT 'mod_n' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CASE WHEN doc_id % 32 <> doc_id % 33
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        |  FROM keys GROUP BY 1)
        |SELECT strategy, n_keys, n_moved,
        |  round(CAST(n_moved AS DOUBLE) / n_keys, 9) AS moved_share
        |FROM (SELECT * FROM ring UNION ALL SELECT * FROM m)
        |ORDER BY strategy""".stripMargin,

    // four generated legs: grid joins for truth, System-R estimate
    "q_join_card" -> {
      val legs = Seq(
        ("lineitem", "l_partkey", "part", "p_partkey", "lineitem*part"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey",
          "lineitem*supplier"),
        ("orders", "o_custkey", "customer", "c_custkey",
          "orders*customer"),
        ("events", "user_id", "events", "user_id", "events*events"))
        .zipWithIndex.map { case ((ta, ka, tb, kb, tag), i) =>
          val ctes =
            s"""jca_$i AS (
               |  SELECT $ka AS k, CAST(COUNT(*) AS BIGINT) AS ca
               |  FROM $ta GROUP BY $ka),
               |jcb_$i AS (
               |  SELECT $kb AS k, CAST(COUNT(*) AS BIGINT) AS cb
               |  FROM $tb GROUP BY $kb),
               |jsa_$i AS (
               |  SELECT CAST(SUM(ca) AS BIGINT) AS n_left,
               |    CAST(COUNT(*) AS BIGINT) AS d_left FROM jca_$i),
               |jsb_$i AS (
               |  SELECT CAST(SUM(cb) AS BIGINT) AS n_right,
               |    CAST(COUNT(*) AS BIGINT) AS d_right FROM jcb_$i),
               |jtr_$i AS (
               |  SELECT CAST(SUM(ca * cb) AS BIGINT) AS true_rows
               |  FROM jca_$i JOIN jcb_$i USING (k))""".stripMargin
          val sel =
            s"""SELECT '$tag' AS join_key, n_left, n_right,
               |  d_left, d_right,
               |  (n_left * n_right) // greatest(d_left, d_right)
               |    AS est_rows,
               |  COALESCE(true_rows, 0) AS true_rows,
               |  round(CAST((n_left * n_right) //
               |      greatest(d_left, d_right) AS DOUBLE) /
               |    NULLIF(COALESCE(true_rows, 0), 0), 9) AS err_ratio
               |FROM jsa_$i CROSS JOIN jsb_$i CROSS JOIN jtr_$i
               |WHERE n_left IS NOT NULL AND n_right IS NOT NULL"""
              .stripMargin
          (ctes, sel)
        }
      s"""WITH ${legs.map(_._1).mkString(",\n")}
         |SELECT * FROM (
         |${legs.map(l => s"(${l._2})").mkString("\nUNION ALL\n")}
         |) ORDER BY join_key""".stripMargin
    },

    // same gate, same one-expression round-9 optimism term
    "q_bandit_ucb" ->
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN n_chars >= 200 AND n_chars <= 2000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS passes
        |  FROM documents GROUP BY source),
        |t AS (
        |  SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS n_total,
        |    round(CAST(passes AS DOUBLE) / n, 9) AS mean_reward,
        |    round(CAST(passes AS DOUBLE) / n +
        |      sqrt(2.0 * ln(CAST(n_total AS DOUBLE)) / n), 9) AS ucb
        |  FROM g)
        |SELECT source, n, passes, mean_reward, ucb,
        |  CAST(row_number() OVER (ORDER BY ucb DESC, source) AS BIGINT)
        |    AS explore_rank
        |FROM t ORDER BY source""".stripMargin,

    // same integer cuts, per-user profile, constant-group rollup
    "q_temporal_split" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |b AS (
        |  SELECT 1 AS one,
        |    MIN(ts_us) + ((MAX(ts_us) - MIN(ts_us)) * 6) // 10
        |      AS cut_train_us,
        |    MIN(ts_us) + ((MAX(ts_us) - MIN(ts_us)) * 13) // 20
        |      AS cut_test_us
        |  FROM ev GROUP BY 1),
        |u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN ts_us < cut_train_us THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN ts_us >= cut_train_us
        |      AND ts_us < cut_test_us THEN 1 ELSE 0 END) AS BIGINT) AS ne,
        |    CAST(SUM(CASE WHEN ts_us >= cut_test_us THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nx
        |  FROM ev CROSS JOIN b GROUP BY user_id),
        |r AS (
        |  SELECT 1 AS one,
        |    CAST(SUM(nt) AS BIGINT) AS n_train,
        |    CAST(SUM(ne) AS BIGINT) AS n_embargo,
        |    CAST(SUM(nx) AS BIGINT) AS n_test,
        |    CAST(SUM(CASE WHEN nt > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS users_train,
        |    CAST(SUM(CASE WHEN nx > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS users_test,
        |    CAST(SUM(CASE WHEN nt > 0 AND nx > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS users_overlap
        |  FROM u GROUP BY 1)
        |SELECT cut_train_us, cut_test_us, n_train, n_embargo, n_test,
        |  users_train, users_test, users_overlap,
        |  round(CAST(users_overlap AS DOUBLE) /
        |    NULLIF(users_test, 0), 9) AS leak_share
        |FROM r CROSS JOIN b""".stripMargin,

    // four generated legs, one shared WITH; same grid/threshold forms
    "q_skew_audit" -> {
      val legs = Seq(
        ("lineitem", "l_partkey", "lineitem.l_partkey"),
        ("lineitem", "l_suppkey", "lineitem.l_suppkey"),
        ("events", "user_id", "events.user_id"),
        ("events", "event_type", "events.event_type"))
        .zipWithIndex.map { case ((t, k, tag), i) => skewLegSql(t, k, tag, i) }
      s"""WITH ${legs.map(_._1).mkString(",\n")}
         |SELECT * FROM (
         |${legs.map(l => s"(${l._2})").mkString("\nUNION ALL\n")}
         |) ORDER BY shuffle_key""".stripMargin
    },

    // same four legs through the Hill order-statistic form
    "q_tail_index" -> {
      val legs = Seq(
        ("lineitem", "l_partkey", "lineitem.l_partkey"),
        ("lineitem", "l_suppkey", "lineitem.l_suppkey"),
        ("events", "user_id", "events.user_id"),
        ("events", "event_type", "events.event_type"))
        .zipWithIndex.map { case ((t, k, tag), i) => hillLegSql(t, k, tag, i) }
      s"""WITH ${legs.map(_._1).mkString(",\n")}
         |SELECT * FROM (
         |${legs.map(l => s"(${l._2})").mkString("\nUNION ALL\n")}
         |) ORDER BY shuffle_key""".stripMargin
    }
  )
}
