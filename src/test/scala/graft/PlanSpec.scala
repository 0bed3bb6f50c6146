package graft

import org.scalatest.BeforeAndAfterAll

/** Enforced plan hygiene: the properties `graft.PlanAudit` reports,
  * pinned as tests so a plan regression (a lost pushdown, a surprise
  * cartesian product, a missed group-limit) fails the build instead of
  * shipping. Plans are built against sf0.001; physical planning does
  * not depend on the scale factor here.
  *
  * == Global-window whitelist (audited; re-audit only NEW sites) ==
  * Every partition-less `Window.orderBy` in src/main runs over a
  * BOUNDED frame — a histogram/bucket/candidate table whose row count
  * is fixed by a constant or a domain, never by corpus size:
  *  - Curation.scala `corpus_token_budget`: ≤ 1001 quality buckets.
  *  - Diagnostics.scala `events_gini` (×2, asc/desc): ≤ distinct
  *    per-user activity LEVELS (a count histogram, not users).
  *  - Events.scala `customer_survival`: ≤ distinct whole-day
  *    durations within the observation span.
  *  - Similarity.scala ivfPacked/kmeans seeding (×2): ≤ IvfCells or
  *    the k rows surviving an ORDER BY + LIMIT k (TakeOrdered feeds
  *    the window, not the corpus).
  *  - Similarity.scala PQ permutation: ≤ cells·M codebook rows.
  *  - Similarity.scala `ann_hybrid_rerank`: ≤ HybridK fused rows.
  *  - Curation.scala `quality_ensemble` bucketCdf (×2): cumulative
  *    sums over ≤ 1000 histogram-BUCKET rows, never documents.
  *  - Curation.scala `privacy_dp_topk`: one rank over the SOURCE
  *    domain (a handful of rows after the count fold), never docs.
  *  - Curation.scala `privacy_svt`: probe order over the NATION
  *    domain (25 rows after the count fold), never customers.
  * Unbounded global sorts belong to TakeOrderedAndProject patterns
  * (`sample_reservoir`, `text_vocab_coverage`, `agg_countmin`) — the
  * dedicated tests below pin those.
  */
class PlanSpec extends SparkSpecBase with BeforeAndAfterAll {

  // Ops leave frames cached (e.g. the normalized embeddings), and a
  // cached frame's stats feed later plans' join choices: the pinned
  // plans below are those built over an empty cache.
  override def beforeAll(): Unit = spark.catalog.clearCache()

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("no catalog query plans a cartesian product") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filter(CatalogRun(spark, sf, _).cartesian)
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("predicate pushdown reaches the parquet scan") {
    val p = plan("scan_parquet")
    assert(p.contains("PushedFilters: [IsNotNull(s_acctbal), GreaterThan(s_acctbal,0.0)"), p)
  }

  test("column pruning reaches the parquet scan") {
    // 4-column projection over the 16-column lineitem table
    val p = plan("project")
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(schema.split(",").length === 4, p)
    assert(schema.contains("l_orderkey") && schema.contains("l_returnflag"), p)
  }

  test("rank-filter patterns use WindowGroupLimit (top-k below the shuffle)") {
    assert(plan("window_rank").contains("WindowGroupLimit"))
    assert(plan("ann_bruteforce").contains("WindowGroupLimit"))
    assert(plan("agg_mode").contains("WindowGroupLimit"))
  }

  test("span excision: two-level gram fold plans without a distinct Expand") {
    val p = plan("text_span_excise")
    // the (hash, doc) -> (hash) fold replaces count_distinct+min in one
    // agg, so no Expand doubles the gram shuffle; the island windows
    // must be doc-keyed (the global-window whitelist does not apply)
    assert(!p.contains("Expand"), p)
    assert(p.contains("windowspecdefinition(doc_id"),
      "island windows must partition on doc_id")
  }

  test("merge_into: one key-partitioned full-outer join, batch derived inline") {
    val p = plan("merge_into")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("audio fingerprint: stop-landmark gate keys shuffle, frames never do") {
    val p = plan("mm_audio_fingerprint")
    // the fanout self-join and the cross-doc vote join are keyed
    // (equi-join on doc_id / landmark key) — never a cartesian — and
    // the winner pick is a PARTITIONED window
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit") ||
      p.contains("windowspecdefinition(doc_a"), p)
  }

  test("global top-k plans as TakeOrdered, never a full sort") {
    assert(plan("limit_topk").contains("TakeOrderedAndProject"))
    assert(plan("rank_bm25").contains("TakeOrderedAndProject"))
  }

  test("reservoir sample plans as TakeOrdered, never a full sort") {
    assert(plan("sample_reservoir").contains("TakeOrderedAndProject"))
  }

  test("sliding windows expand row-local and combine map-side") {
    val p = plan("window_sliding")
    // the 4-assignment window expansion is an Expand inside the scan
    // stage, and the aggregate runs partial (map-side) before the
    // exchange — the shuffle carries states, never 4x the data
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Join"), p)
  }

  test("nearest as-of join is carry windows, never a join") {
    val p = plan("join_asof_nearest")
    assert(!p.contains("Join"), p)
    // clicks tie-collapse + the shared user-keyed carry windows: at
    // most two hash exchanges, no nested loop anywhere
    assert("hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("range search scores through bucket hash joins, not nested loops") {
    val p = plan("ann_range_search")
    // the only nested-loops are the planes broadcast (a ≤ 6-row
    // constant table crossed into the signature pass — every LSH op's
    // shape; planned once per branch, so ≤ 2); candidate generation
    // and the vector re-join are hash equi-joins
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("bm25 broadcasts df and corpus stats; term filter is pushed") {
    val p = plan("rank_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("stratified sample broadcasts the per-stratum quota table") {
    assert(plan("sample_stratified").contains("BroadcastHashJoin"))
  }

  test("markov transitions and streaks need no join at all") {
    assert(!plan("events_markov").contains("Join"))
    assert(!plan("events_streaks").contains("Join"))
  }

  test("lateness profile rides the user key — no join, no global sort window") {
    val p = plan("diag_lateness")
    assert(!p.contains("Join"), p)
  }

  // plan toString can truncate a wide ReadSchema mid-struct; capture
  // to the closing bracket OR end-of-line so pins still see the prefix
  private def readSchemas(p: String): Seq[String] =
    "ReadSchema: struct<([^>\n]*)".r.findAllMatchIn(p).map(_.group(1)).toSeq

  test("snapshot diff reads back only key + digest-input columns") {
    val p = plan("snapshot_diff")
    // payload stays in the files: the diff join's scans carry the key
    // and the three digested fields, never the full order row
    val snaps = readSchemas(p).filter(_.contains("o_orderstatus"))
    assert(snaps.nonEmpty, p)
    snaps.foreach { sch =>
      assert(!sch.contains("o_orderdate") && !sch.contains("o_custkey"), sch)
    }
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("compaction planner packs per-partition windows over manifest columns") {
    val p = plan("layout_compaction")
    val sch = readSchemas(p).head
    assert(sch.contains("l_shipdate") && sch.contains("l_suppkey"), sch)
    assert(!sch.contains("l_quantity"), sch)
    // running-size window is keyed by the partition month, not global
    assert(p.contains("windowspecdefinition(p_month"), p)
  }

  test("dq suite folds every check into one lineitem scan") {
    val p = plan("dq_report")
    assert("FileScan".r.findAllMatchIn(p).size === 1, p)
    // the scan's column list carries only checked columns (the
    // ReadSchema string truncates on wide scans — use the attr list)
    assert(p.contains("l_quantity") && !p.contains("l_partkey"), p)
  }

  test("rolling distinct prunes events to (user_id, ts)") {
    val p = plan("window_rolling_distinct")
    val schemas = readSchemas(p)
    assert(schemas.exists(_.contains("user_id")), p)
    schemas.foreach(sch => assert(!sch.contains("props"), sch))
  }

  test("distinct sketch combines registers map-side, broadcasts the recount") {
    val p = plan("agg_distinct_sketch")
    assert(p.contains("partial_bit_or") || p.contains("merge_bit_or"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ewma is one keyed window, no self-join") {
    val p = plan("window_ewma")
    assert(!p.contains("Join"), p)
    assert(p.contains("windowspecdefinition(user_id"), p)
  }

  test("temperature mix broadcasts the 1-row normalizer") {
    val p = plan("corpus_temperature_mix")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("canonical dedup selection moves ids and lengths, not text") {
    val p = plan("dedup_canonical")
    // text reaches only the simhash signature side; the selection join
    // and window operate on (doc_id, n_chars, cluster_id) alone
    val sel = readSchemas(p).filter(_.contains("n_chars"))
    assert(sel.nonEmpty, p)
    sel.foreach(sch => assert(!sch.contains("text"), sch))
  }

  test("pca Gramian pass reads only the embedding column, no joins") {
    val p = graft.ops.Diagnostics.pcaScan(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    // the single corpus pass is the Gramian scan: no join, no shuffle,
    // and the parquet reader materializes only the vector itself
    assert(!p.contains("Join") && !p.contains("Exchange"), p)
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(schema.contains("embedding"), schema)
    assert(!schema.contains("label") && !schema.contains("vec_id"), schema)
  }

  test("triangle count joins are all keyed (no nested-loop expansion)") {
    val p = plan("graph_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dimension joins broadcast") {
    assert(plan("join_inner_broadcast").contains("BroadcastHashJoin"))
    assert(plan("semi_join").contains("BroadcastHashJoin"))
  }

  test("partitioned stage read-back prunes at the partition level") {
    val p = plan("sink_partitioned")
    // the month filter must appear as a PartitionFilters entry on the
    // stage scan — directory pruning, not a data filter
    assert("PartitionFilters: \\[[^\\]]*o_month".r.findFirstIn(p).isDefined, p)
  }

  test("contamination check broadcasts the probe side") {
    // the benchmark/probe grams must ship to the corpus via broadcast —
    // a shuffled join here would move the whole corpus's grams
    assert(plan("text_contamination").contains("BroadcastHashJoin"))
  }

  test("semantic contamination broadcasts benchmark bands AND vectors") {
    // both probe-side joins (band candidates, verify vectors) must ship
    // the benchmark to the corpus — the corpus embedding table never
    // shuffles for the benchmark's sake
    val p = plan("text_contamination_semantic")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality classifier is one scan + a broadcast weight row") {
    // features are row-local; the weight vector rides a broadcast
    // nested-loop against ONE row; no shuffle before the output sort
    val p = plan("quality_classifier")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("salted join shuffles (the skew pattern it demonstrates)") {
    val p = plan("join_salted")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("bucketed range join is an equi-join, never a nested loop") {
    val p = plan("join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("cdc compaction aggregates map-side, never a window") {
    // the latest-wins compaction must plan as partial-then-final
    // max_by aggregation (partitions reduce to one row per key before
    // the shuffle), not a row_number window over the whole changelog
    val p = plan("cdc_upsert")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_max_by") || p.contains("max_by"), p)
  }

  test("repetition scoring is row-local (only the output-sort exchange)") {
    val p = plan("text_repetition")
    assert("Exchange".r.findAllIn(p).length === 1, p)
  }

  test("sequence packing needs no join (source threaded through the scan)") {
    assert(!plan("corpus_pack").contains("Join"), "corpus_pack plans a join")
  }

  test("PQ ADC scan broadcasts the query distance table to the codes") {
    // the compressed-code side must never shuffle to meet the Q×M×K
    // table — the table ships to the codes, not the reverse
    assert(plan("ann_pq").contains("BroadcastHashJoin"), "no broadcast in ann_pq")
  }

  test("weighted mixing is a pruned row-local filter: no text read, no window") {
    val p = plan("sample_weighted")
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    // the filter depends only on (doc_id, source); reading `text` at
    // 100 TB would turn a metadata-sized scan into a corpus-sized one
    assert(!schema.contains("text"), p)
    assert(!p.contains("Window"), p)
  }

  test("domain cap plans as a group-limit, not a full per-source sort+filter") {
    // row_number <= K must become WindowGroupLimit so each partition
    // keeps only K candidates per source before the shuffle
    assert(plan("domain_cap").contains("WindowGroupLimit"))
  }

  test("salted domain cap group-limits BOTH stages (no whole-source sort anywhere)") {
    val p = plan("domain_cap_salted")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p)
  }

  test("bucketed co-located join: zero shuffle on either side, agg rides the buckets") {
    // both scans report the bucket partitioning, so EnsureRequirements
    // inserts no exchange for the join OR the same-key aggregate — the
    // only exchange left is the final total-order sort
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("Exchange".r.findAllIn(p).length === 1, p)
  }

  test("LM scoring ships the trained model broadcast, never shuffles the corpus to it") {
    // the capped-vocab unigram model (and the corpus-total scalar)
    // must broadcast to the token scan; a shuffled join here would
    // move every token instance to meet a 2048-row table
    val p = plan("text_lm_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("DSIR scoring broadcasts both bucket models; scan never reads beyond its 3 cols") {
    val p = plan("dsir_select")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(schema.split(",").length <= 3, p)
  }

  test("dup-span coverage shuffles hashes only: span text never leaves the row") {
    // the only columns that may cross an exchange are doc_id and the
    // 60-bit span hash — a plan shipping `span` strings would move
    // the corpus itself through the shuffle
    val p = plan("text_dup_spans")
    assert(!"Exchange hashpartitioning\\([^)]*span".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("Window"), p)
  }

  test("inverted index builds in ONE term-keyed shuffle (df rides the posting set)") {
    // count_distinct alongside collect_set would plan an extra
    // (term, doc_id) expand shuffle; df must derive from the set the
    // postings already build, leaving only the term aggregate and the
    // final total-order sort
    val p = plan("inverted_index")
    assert("Exchange".r.findAllIn(p).length === 2, p)
    assert(!p.contains("Window"), p)
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(schema.split(",").length === 2, p) // doc_id + text only
  }

  test("BPE pair stats: map-side combine + TakeOrdered, never a full sort") {
    val p = plan("bpe_pair_stats")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p)
    assert("Exchange".r.findAllIn(p).length === 1, p)
  }

  test("retention cohort side broadcasts (first-week table is user-count sized)") {
    val p = plan("events_retention")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // both event scans must read only (ts, user_id), never the payload
    val schemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty && schemas.forall(_.split(",").length <= 2), p)
  }

  test("ORC round-trip read-back is a pruned columnar scan") {
    val p = plan("orc_roundtrip")
    assert(p.contains("Format: ORC"), p)
    assert("Exchange".r.findAllIn(p).length === 1, p) // output sort only
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(schema.split(",").length === 4, p)
  }

  test("SCD2 intervals: both windows ride ONE keyed shuffle") {
    // the change filter (lag) and the interval close (lead) partition
    // on the same key — a second exchange between them means the
    // filter broke the partitioning contract
    val p = plan("scd2_intervals")
    assert("Exchange".r.findAllIn(p).length === 2, p) // key shuffle + output sort
    assert(!p.contains("Join"), p)
  }

  test("levenshtein blocking joins on segment buckets, never nested-loops") {
    val p = plan("dedup_levenshtein")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // verification stays band-limited: the 3-arg levenshtein
    assert(p.contains("levenshtein"), p)
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(schema.split(",").length === 2, p) // doc_id + text only
  }

  test("bloom prefilter probes the fact scan BELOW the semi-join shuffle") {
    val p = plan("join_bloom_prefilter")
    // the probe must appear in the scan-side DataFilters (map-side,
    // pre-exchange) — if left-semi pushdown ever hoists the semi join
    // below the probe again, bloom_contains vanishes from the scan
    assert("DataFilters: \\[[^\\]]*bloom_contains".r.findFirstIn(p).isDefined, p)
    // and the exact join stays the pinned shuffled semi join
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"), p)
    // the bitmap builds via partial aggregation (bitmaps merge, keys
    // never reach the single reducer)
    assert(p.contains("partial_bloom_build"), p)
  }

  test("z-order key is row-local; the tile aggregate is the only keyed shuffle") {
    val p = plan("layout_zorder")
    assert("Exchange".r.findAllIn(p).length === 2, p) // tile agg + output sort
    assert(!p.contains("Join") && !p.contains("Window"), p)
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(schema.split(",").length === 2, p) // l_partkey + l_suppkey only
  }

  test("z-order tiles bound BOTH dimension spans (the pruning property)") {
    // every 256-wide z-range is a 16×16 (x, y) tile — if either span
    // exceeds 15 the interleave is broken and file skipping on the
    // second dimension silently stops working
    import org.apache.spark.sql.functions.col
    val bad = SparkEntry.queries("layout_zorder")(spark, sf)
      .filter(col("x_span") > 15 || col("y_span") > 15).count()
    assert(bad === 0)
  }

  test("heavy hitters: sketch shuffles bounded buffers; candidates broadcast back") {
    val p = plan("text_heavy_hitters")
    // the MG pass must partial-aggregate (capacity-bounded buffers
    // cross the shuffle, never the vocabulary) and the ≤64 candidates
    // must reach the recount as a broadcast semi join
    assert(p.contains("partial_mg_topk_candidates"), p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("gap fill: the spine is broadcast; only the hourly aggregate shuffles data") {
    val p = plan("timeseries_fill")
    // the hours×types spine must come to the hourly counts via
    // broadcast — shuffling data to a calendar-sized frame is the
    // backwards plan
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("winsorize bounds broadcast back to the scan (no re-shuffle of the log)") {
    val p = plan("events_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("vocab coverage: the top-K vocabulary broadcasts to the token stream") {
    val p = plan("text_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // vocab top-k, never a full sort
  }

  test("fuzzy join rides the banded LSH pipeline (no quadratic match join)") {
    val p = plan("join_fuzzy_minhash")
    // candidate-id semi-join broadcasts at this scale; the band join is
    // the only way originals meet twins — never an all-pairs compare
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mix report: total and target tables broadcast to the per-lang agg") {
    val p = plan("corpus_mix_report")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("schema-evolution scan reconciles the widened schema (new column readable)") {
    val p = plan("scan_schema_evolution")
    assert(p.contains("s_nationkey"), p) // merged into ReadSchema, v1 rows NULL
  }

  test("pagerank: 1-row node count broadcasts; rounds are join+agg only") {
    val p = plan("graph_pagerank")
    // the N-count join must be a broadcast of one row, and no round
    // may degrade to a cartesian pairing of ranks × edges
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ohlc bars reuse one exchange across both windows and the aggregate") {
    // both row_number windows and the groupBy key on (event_type, hour)
    // — exactly ONE data-sized hash-partitioning exchange may appear
    val p = plan("timeseries_ohlc")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"$exchanges hash exchanges:\n$p")
  }

  test("audience overlap self-join is keyed on user_id, never cartesian") {
    // at sf0.001 the distinct (user, type) side is broadcast-small, so
    // the join STRATEGY is scale-dependent; the pinned property is the
    // equi-join key (a lost key degrades to a cartesian pairing)
    val p = plan("events_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("user_id"), p)
  }

  test("count-min probes broadcast the fixed-size sketch, never the scan") {
    val p = plan("agg_countmin")
    assert(p.contains("BroadcastHashJoin"), p)
    // the exact anchor's top-K is partition-local heads + driver merge,
    // and rn derives from a broadcast K-row self-pairing — a regression
    // to a partition-less row_number Window would single-partition-sort
    // the whole key space
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
    // the raw lineitem scan reads only the key column
    val schema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(schema === "l_partkey:bigint", schema)
  }

  test("sssp rounds are keyed join+agg, no cartesian, no window") {
    val p = plan("graph_sssp")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("IVF coarse assignment is a map stage: no window, no shuffle") {
    // the N-side nearest-centroid assignment must be the row-local
    // pq_argmin over the packed broadcast codebook — a crossJoin×K +
    // row_number regression would reintroduce a per-vector window
    // shuffle on the corpus-sized side
    import org.apache.spark.sql.functions.col
    val e = ops.Similarity.normalize(spark,
      Tables.embeddings(spark, sf))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("ne").as("cv"))
    val p = ops.Similarity.assignCells(e.select(col("vec_id"), col("ne")), cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("pq_argmin"), p)
  }

  test("bitmap distinct ORs words map-side before the shuffle") {
    val p = plan("agg_bitmap_distinct")
    assert(p.contains("partial_bit_or"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("concurrency sweep partitions by day, sessions by user — no global window") {
    val p = plan("events_concurrency")
    assert(p.contains("hashpartitioning(day"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(!p.contains("SinglePartition)"), p)
  }

  test("similarity kNN cuts top-k below the shuffle and joins keyed") {
    val p = plan("graph_similarity")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("embedding outliers: centroids broadcast back; top-K bounds map-side") {
    val p = plan("embedding_outliers")
    // the labels×dims centroid table ships to the vectors, never the
    // reverse, and the per-label top-K cuts below the rank shuffle
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("recall report: both rank stages cut via WindowGroupLimit") {
    val p = plan("ann_recall_report")
    assert(p.contains("WindowGroupLimit"), p)
    // the only nested-loop is the 20-row probe side against candidates
    // (broadcast), mirroring ann_bruteforce's verified-exact pass
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("incremental IVF: codebook broadcasts; attach ranks via WindowGroupLimit") {
    val p = plan("ann_ivf_incremental")
    // the frozen codebook ships to the scan (row-local pq_argmin
    // routing); the per-increment top-3 cuts below the rank shuffle
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("cluster report: centroids broadcast; exemplar cut via WindowGroupLimit") {
    val p = plan("corpus_cluster_report")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("phash signature and boilerplate df move hashes, not payload text") {
    // every exchange's partition key is an id/hash/band column — the
    // payload hex (mm_phash) and block text (text_boilerplate df pass)
    // stay in their scan partitions until the bounded reassembly/verify
    val ph = plan("mm_phash")
    assert(!"hashpartitioning\\([^)]*hexp".r.findFirstIn(ph).isDefined, ph)
    val bp = plan("text_boilerplate")
    assert("hashpartitioning\\(bh".r.findFirstIn(bp).isDefined, bp)
  }
}
