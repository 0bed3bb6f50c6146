package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Every catalog entry runs on sf0.001 and satisfies basic invariants.
  * Value-level correctness is enforced by the DuckDB oracle gate
  * (`tools/oracle_check.py` / the driver's CORRECTNESS run); these
  * specs guard that each op executes, yields its declared schema, and
  * that cross-op semantic relations hold.
  */
class CatalogSpec extends SparkSpecBase {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name executes and is non-degenerate") {
      val r = CatalogRun(spark, sf, name)
      assert(r.schema.nonEmpty)
      // Empty results are legal only for genuinely filtering ops; all
      // current catalog entries yield rows at sf0.001.
      assert(r.rows.nonEmpty, s"$name returned 0 rows at sf0.001")
      assert(r.confDiff.isEmpty, s"$name changed the session conf: ${r.confDiff}")
    }
  }

  test("semi + anti join partition the left side") {
    import spark.implicits._
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf).select($"o_custkey")
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").count()
    assert(semi + anti === c.count())
  }

  test("union_distinct result is within each input's distinct bound") {
    import spark.implicits._
    val n = CatalogRun.frame(spark, sf, "union_distinct").count()
    val cDist = Tables.customer(spark, sf).select($"c_nationkey").distinct().count()
    assert(n >= cDist && n <= 25)
  }

  test("fn_now_tz applies real zone rules: DST pins + Berlin day shift") {
    import spark.implicits._
    // the four pinned literals prove zone-RULE application (skipped
    // hour at spring-forward, repeated hour at fall-back), not a fixed
    // offset; render via date_format under the pinned UTC session TZ
    // so the assertion is JVM-default-timezone-proof
    val r = CatalogRun.frame(spark, sf, "fn_now_tz")
      .select(
        date_format($"dst_spring_pre", "yyyy-MM-dd HH:mm:ss"),
        date_format($"dst_spring_post", "yyyy-MM-dd HH:mm:ss"),
        date_format($"dst_fall_pre", "yyyy-MM-dd HH:mm:ss"),
        date_format($"dst_fall_post", "yyyy-MM-dd HH:mm:ss"))
      .limit(1).collect()(0)
    assert(r.getString(0) === "2024-03-31 01:30:00") // CET +1
    assert(r.getString(1) === "2024-03-31 03:30:00") // CEST +2: 02:xx skipped
    assert(r.getString(2) === "2024-10-27 02:30:00") // CEST +2
    assert(r.getString(3) === "2024-10-27 02:30:00") // CET +1: same wall time
    // per-event columns: berlin wall time is ts +1h or +2h, and the
    // anchor date is the Berlin-local calendar day
    val badRows = CatalogRun.frame(spark, sf, "fn_now_tz")
      .join(Tables.events(spark, sf).select($"event_id", $"ts"), "event_id")
      .filter(
        !(unix_timestamp($"ts_berlin") - unix_timestamp($"ts"))
          .isin(3600L, 7200L) ||
        $"berlin_date" =!= to_date($"ts_berlin"))
      .count()
    assert(badRows === 0)
  }

  test("window_share shares sum to 1 within each month (non-null months)") {
    import spark.implicits._
    val bad = CatalogRun.frame(spark, sf, "window_share")
      .groupBy($"cohort_month")
      .agg(sum($"monthly_share").as("s"))
      .filter($"s".isNotNull && abs($"s" - 1.0) > 0.01)
      .count()
    assert(bad === 0)
  }

  test("agg_groupby totals reconcile with agg_global row count") {
    import spark.implicits._
    val byGroup = CatalogRun.frame(spark, sf, "agg_groupby")
      .agg(sum($"count_order")).first().getLong(0)
    val global = CatalogRun.frame(spark, sf, "agg_global")
      .first().getAs[Long]("n_rows")
    assert(byGroup === global)
  }

  test("dedup_clusters labels exactly the docs of the simhash pair graph") {
    import spark.implicits._
    val pairs = CatalogRun.frame(spark, sf, "dedup_simhash")
    val inGraph = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b".as("doc_id"))).distinct().count()
    val clusters = CatalogRun.frame(spark, sf, "dedup_clusters")
    assert(clusters.count() === inGraph)
    // labels are canonical minimum ids: never larger than the member
    assert(clusters.filter($"cluster_id" > $"doc_id").count() === 0)
    // propagation is BOUNDED (4 rounds), so long chains may stay split
    // — but the overwhelming majority of pairs (quasi-cliques of
    // diameter <= 4) must be intra-cluster
    val a = clusters.select($"doc_id".as("doc_a"), $"cluster_id".as("ca"))
    val b = clusters.select($"doc_id".as("doc_b"), $"cluster_id".as("cb"))
    val joined = pairs.join(a, "doc_a").join(b, "doc_b")
    val split = joined.filter($"ca" =!= $"cb").count()
    assert(split * 20 <= joined.count(), s"$split split pairs")
  }

  test("limit_topk is the global descending head") {
    import spark.implicits._
    val top = CatalogRun.frame(spark, sf, "limit_topk")
      .agg(min($"o_totalprice")).first().getDouble(0)
    val above = Tables.orders(spark, sf).filter($"o_totalprice" > top).count()
    assert(above < 100)
  }

  test("agg_bitmap_distinct bitmap count equals the exact count on every type") {
    import spark.implicits._
    val bad = CatalogRun.frame(spark, sf, "agg_bitmap_distinct")
      .filter($"n_distinct_bitmap" =!= $"n_distinct_exact").count()
    assert(bad === 0)
  }

  test("events_seasonality shares sum to 1 within each type") {
    import spark.implicits._
    val bad = CatalogRun.frame(spark, sf, "events_seasonality")
      .groupBy($"event_type").agg(sum($"share").as("s"))
      .filter(abs($"s" - 1.0) > 0.01).count()
    assert(bad === 0)
  }

  test("events_forecast forecasts are the lag-7 actuals where both days emit") {
    import spark.implicits._
    val f = CatalogRun.frame(spark, sf, "events_forecast")
    val misaligned = f.as("now").join(f.as("past"),
        $"now.event_type" === $"past.event_type" &&
          $"past.day" === date_sub($"now.day", 7))
      .filter($"now.forecast" =!= $"past.n_events").count()
    assert(misaligned === 0)
  }

  test("graph_similarity: ≤5 ranked rows per supplier, jaccard in (0,1]") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "graph_similarity").cache()
    assert(out.filter($"rk" < 1 || $"rk" > 5).count() === 0)
    assert(out.filter($"jaccard" <= 0.0 || $"jaccard" > 1.0).count() === 0)
    val overfull = out.groupBy($"supplier").count().filter($"count" > 5).count()
    assert(overfull === 0)
    out.unpersist()
  }

  test("dedup_containment pairs are directed, scored in [0.9, 1]") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "dedup_containment").cache()
    assert(out.filter($"doc_inner" === $"doc_outer").count() === 0)
    assert(out.filter($"containment" < 0.9 || $"containment" > 1.0).count() === 0)
    out.unpersist()
  }

  test("text_boilerplate: untouched docs reassemble to their normalized text") {
    import spark.implicits._
    import graft.functions.TextFns.normalizeText
    val out = CatalogRun.frame(spark, sf, "text_boilerplate").cache()
    assert(out.filter($"n_dropped" > $"n_blocks").count() === 0)
    val bad = out.filter($"n_dropped" === 0)
      .join(Tables.documents(spark, sf), "doc_id")
      .filter($"clean_hash" =!= md5(normalizeText($"text")))
      .count()
    assert(bad === 0)
    out.unpersist()
  }

  test("ann_hybrid_rerank re-ranks within the BM25 candidate set") {
    import spark.implicits._
    val hybrid = CatalogRun.frame(spark, sf, "ann_hybrid_rerank").cache()
    val bm = CatalogRun.frame(spark, sf, "rank_bm25").select($"doc_id")
    assert(hybrid.join(bm, Seq("doc_id"), "left_anti").count() === 0)
    assert(hybrid.filter($"hybrid" < 0 || $"hybrid" > 1.000001).count() === 0)
    assert(hybrid.filter($"cosine" < -1.000001 || $"cosine" > 1.000001)
      .count() === 0)
    hybrid.unpersist()
  }

  test("mm_scene_cuts: first frame never cuts, energies are fractions") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "mm_scene_cuts").cache()
    assert(out.filter($"frame_no" === 0 && $"is_cut").count() === 0)
    assert(out.filter($"energy" < 0 || $"energy" > 1).count() === 0)
    assert(out.filter($"is_cut" && $"delta" <= 0.05).count() === 0)
    out.unpersist()
  }

  test("sketch_rolling_quantile: one bucket per day, adaptive band is uniform") {
    import spark.implicits._
    // round-12 adaptive geometry: buckets/step come from a corpus
    // stats job, so the old fixed 32x16 grid no longer applies — pin
    // the shape instead: one row per day, non-negative buckets, and
    // ONE positive integer band width shared by every day (the stated
    // error bound max(1, ceil(range/sqrt(N)))).
    val out = CatalogRun.frame(spark, sf, "sketch_rolling_quantile").cache()
    assert(out.groupBy($"day").count().filter($"count" =!= 1).count() === 0)
    assert(out.filter($"p50_bucket" < 0).count() === 0)
    val widths = out.select(($"p50_hi" - $"p50_lo").as("w")).distinct().collect()
    assert(widths.length === 1, s"band width must be uniform: ${widths.toSeq}")
    val w = widths.head.getDouble(0)
    assert(w >= 1.0 && w == math.floor(w), s"integer step expected, got $w")
    assert(out.filter($"p50_lo" > $"p50_hi").count() === 0)
    out.unpersist()
  }

  test("mm_silence_segments are contiguous frame runs") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "mm_silence_segments")
    assert(out.filter($"n_frames" =!= $"seg_end" - $"seg_start" + 1)
      .count() === 0)
  }

  test("events_abtest: conversions bounded by arm sizes, arms partition users") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "events_abtest").cache()
    assert(out.filter($"conv_a" > $"n_a" || $"conv_b" > $"n_b").count() === 0)
    val Row(na: Long, nb: Long) = out.select($"n_a", $"n_b").first()
    val users = Tables.events(spark, sf)
      .select($"user_id").distinct().count()
    assert(na + nb === users)
    out.unpersist()
  }

  test("corpus_token_budget: under budget, nearly full, quality-prefix") {
    import spark.implicits._
    val sel = CatalogRun.frame(spark, sf, "corpus_token_budget").cache()
    val docs = Tables.documents(spark, sf)
      .select(size(split(trim(regexp_replace(lower($"text"), "\\s+", " ")), " "))
        .cast("long").as("n"))
      .filter($"n" > 0).cache()
    val budget = docs.agg(sum($"n")).first().getLong(0) * 3 / 10
    val spent = sel.agg(sum($"n_tokens")).first().getLong(0)
    val maxDoc = docs.agg(max($"n")).first().getLong(0)
    assert(spent <= budget, s"$spent > $budget")
    assert(budget - spent < maxDoc, s"left ${budget - spent} ≥ max doc $maxDoc")
    val minSelQb = sel.agg(min($"qb")).first().getInt(0)
    val unselectedAbove = Tables.documents(spark, sf)
      .join(sel.select($"doc_id"), Seq("doc_id"), "left_anti")
      .select(split(trim(regexp_replace(lower($"text"), "\\s+", " ")), " ").as("w"))
      .filter(size($"w") > 0)
      .filter(expr("CAST(FLOOR(1000.0 * size(array_distinct(w)) / size(w) + 0.5) AS INT)") > minSelQb)
      .count()
    assert(unselectedAbove === 0)
    sel.unpersist(); docs.unpersist()
  }

  test("text_entropy bounded by log2(26), keep gate consistent") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "text_entropy").cache()
    assert(out.filter($"entropy" < 0 || $"entropy" > 4.700440).count() === 0)
    assert(out.filter($"keep" =!= ($"entropy" >= 3.0)).count() === 0)
    out.unpersist()
  }

  test("events_gini: shares ordered, coefficient in [0, 1)") {
    import spark.implicits._
    val r = CatalogRun.frame(spark, sf, "events_gini").first()
    val gini = r.getAs[Double]("gini")
    val t1 = r.getAs[Double]("top1pct_share")
    val t10 = r.getAs[Double]("top10pct_share")
    assert(gini >= 0.0 && gini < 1.0, gini)
    assert(t1 <= t10 && t10 <= 1.0 && t1 > 0.0, s"$t1 / $t10")
    // top-10% of users must hold at least 10% of events
    assert(t10 >= 0.1 - 1e-6, t10)
  }

  test("layout_zonemap: sorted layout prunes, ingest layout cannot") {
    import spark.implicits._
    val m = CatalogRun.frame(spark, sf, "layout_zonemap")
      .collect().map(r => r.getAs[String]("layout") ->
        r.getAs[Double]("avg_files_hit")).toMap
    assert(m("sorted") === 1.0, m)
    assert(m("ingest") > m("sorted") * 3, m)
  }

  test("events_paths: shares are session fractions over the session universe") {
    import spark.implicits._
    val paths = CatalogRun.frame(spark, sf, "events_paths").cache()
    val nSessions = CatalogRun.frame(spark, sf, "event_sessions").count()
    val covered = paths.agg(sum($"n_sessions")).first().getLong(0)
    assert(covered <= nSessions)
    assert(paths.filter($"share" <= 0 || $"share" > 1).count() === 0)
    assert(paths.count() <= 20)
    paths.unpersist()
  }

  test("corpus_source_overlap: canonical pairs, jaccard within (0,1]") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "corpus_source_overlap").cache()
    assert(out.filter($"source_a" >= $"source_b").count() === 0)
    assert(out.filter($"jaccard" <= 0 || $"jaccard" > 1).count() === 0)
    assert(out.filter($"common" > 100).count() === 0)
    out.unpersist()
  }

  test("events_concurrency peak never exceeds that day's session count") {
    import spark.implicits._
    val bad = CatalogRun.frame(spark, sf, "events_concurrency")
      .filter($"peak_concurrent" < 1 || $"peak_concurrent" > $"n_sessions")
      .count()
    assert(bad === 0)
  }
}
