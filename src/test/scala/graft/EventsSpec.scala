package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Event-time operator semantics on hand-built fixtures.
  *
  * `join_asof` must use STRICT-before matching (the DuckDB oracle's
  * `ASOF ... ON e.ts > c.ts`): a click sharing the error's timestamp is
  * NOT a match, and clicks tying on (user_id, ts) collapse to the max
  * event_id so the carried value is deterministic. The sf testdata has
  * unique (user_id, ts), so only a tie fixture can pin this behavior.
  */
class EventsSpec extends SparkSpecBase {

  test("events over a TIMESTAMP(NANOS) file reads ts as micros = nanos div 1000") {
    // src/test/resources/nanosfix (FIXTURES.md): the legacy footer type
    // that the sf testdata no longer ships; the loader must take its
    // nanosAsLong branch only here, from a session that has it off
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = getClass.getResource("/nanosfix").getPath
    val nanos = Seq(1700000000123456789L, 1700000001000000999L,
      1700086400999999000L, 1704067200000000001L)
    ops.SmallData.withConf(spark, nanosAsLong -> "false") {
      val ev = Tables.events(spark, dir)
      assert(spark.conf.get(nanosAsLong) === "true")
      assert(ev.schema("ts").dataType === TimestampType)
      val micros = ev.orderBy("event_id")
        .selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
      assert(micros === nanos.map(_ / 1000))
      // a second load takes the footer from the schema cache, which
      // must still set the conf the scan needs
      spark.conf.set(nanosAsLong, "false")
      assert(Tables.events(spark, dir).schema("ts").dataType === TimestampType)
      assert(spark.conf.get(nanosAsLong) === "true")
    }
  }

  test("ewma folds power-of-two weights over the trailing frame exactly") {
    import spark.implicits._
    // values 1, 2, 4 → ewma3 = (1·¼ + 2·½ + 4·1) / (¼ + ½ + 1) = 3.0
    // exactly; a second user pins partition isolation (frame restarts)
    val ev = Seq(
      (1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 4.0),
      (2L, 4L, 8.0)
    ).toDF("user_id", "event_id", "value")
    val got = ops.Windows.ewmaOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got === Array(
      (1L, 1L, 1.0), (1L, 2L, 1.666667), // 2.5/1.5 quantized half-up 6dp
      (1L, 3L, 3.0), (2L, 4L, 8.0)), got.mkString(","))
  }

  test("join_asof is strict-before with max-event_id tie-break") {
    val dir = Files.createTempDirectory("graft-events").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts", LongType), StructField("event_type", StringType)))
    def ns(sec: Long): Long = sec * 1000000000L
    val rows = Seq(
      // user 1: click@10s, then a click and an error tied at 20s — the
      // error must resolve to the 10s click, never its same-ts click
      Row(1L, 101L, ns(10), "click"),
      Row(1L, 102L, ns(20), "click"),
      Row(1L, 103L, ns(20), "error"),
      // user 2: two clicks tied at 5s (max event_id carries), an error
      // after them, and an error before any click (left join keeps it)
      Row(2L, 201L, ns(5), "click"),
      Row(2L, 202L, ns(5), "click"),
      Row(2L, 203L, ns(6), "error"),
      Row(2L, 204L, ns(4), "error"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val out = SparkEntry.queries("join_asof")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toSeq
    assert(out === Seq((1L, 103L, 101L), (2L, 203L, 202L), (2L, 204L, -1L)))
  }

  test("anomaly flagging: degenerate types (n=1, constant) emit no rows, no NaN/Inf") {
    import spark.implicits._
    // "solo" has one event (σ over zero dof), "flat" constant values
    // (σ = 0), "live" a genuine 3σ outlier — only "live" may flag, and
    // nothing anywhere may surface NaN/Infinity instead of NULL
    val ev = (Seq((1L, "solo", 5.0), (2L, "flat", 2.0), (3L, "flat", 2.0),
      (4L, "flat", 2.0)) ++
      (10L to 40L).map(i => (i, "live", 1.0)) :+ (50L, "live", 1000.0))
      .toDF("event_id", "event_type", "value")
    val out = ops.Events.eventsAnomalyOf(ev).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("live"))
    assert(out.forall { r =>
      val z = r.getDouble(3); !z.isNaN && !z.isInfinite
    })
  }

  test("overlap matrix: pair counts bounded by audiences, all pairs present") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("events_overlap")(spark, sf).cache()
    // 5 event types → C(5,2) = 10 unordered pairs, canonical a < b
    assert(out.count() === 10)
    assert(out.filter($"type_a" >= $"type_b").count() === 0)
    assert(out.filter($"n_both" > least($"n_a", $"n_b")).count() === 0)
    assert(out.filter($"jaccard" <= 0.0 || $"jaccard" > 1.0).count() === 0)
    out.unpersist()
  }

  test("ohlc bars: low ≤ open/close ≤ high, bucket grid matches tumbling") {
    import spark.implicits._
    val out = SparkEntry.queries("timeseries_ohlc")(spark, sf).cache()
    assert(out.filter($"low" > $"open" || $"low" > $"close" ||
      $"high" < $"open" || $"high" < $"close").count() === 0)
    // same (type, hour) bucketing as window_tumbling → same bucket count
    val tumbling = SparkEntry.queries("window_tumbling")(spark, sf).count()
    assert(out.count() === tumbling)
    out.unpersist()
  }

  test("concurrency sweep: overlap counts, midnight sessions split across days") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 and u2 overlap at 10:05 (peak 2); u3's session crosses midnight
    // (23:50 → 00:10 next day, 20-min gap < 30-min session gap) and must
    // count once on EACH day
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (1L, 2L, ts("2024-01-01 10:10:00")),
      (2L, 3L, ts("2024-01-01 10:05:00")),
      (3L, 4L, ts("2024-01-01 23:50:00")),
      (3L, 5L, ts("2024-01-02 00:10:00"))
    ).toDF("user_id", "event_id", "ts")
    val got = ops.Events.concurrencyOf(ev).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(got === Array(
      ("2024-01-01", 2L, 3L),
      ("2024-01-02", 1L, 1L)), got.mkString(","))
  }

  test("pitJoinOf: boundary, zero-width version, and pre-history edges") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: view@10:00 → click@11:00; purchases probe each edge.
    // user 2: two changes at the SAME µs (zero-width 'view' version)
    // then a purchase — it must see 'error', never the empty version.
    // user 3: purchase BEFORE any dim history → NULL version.
    val ev = Seq(
      (1L, 1L, "view", ts("2024-01-01 10:00:00"), 1.0),
      (1L, 2L, "click", ts("2024-01-01 11:00:00"), 1.0),
      (1L, 10L, "purchase", ts("2024-01-01 10:30:00"), 5.0), // mid-view
      (1L, 11L, "purchase", ts("2024-01-01 11:00:00"), 6.0), // boundary
      (2L, 3L, "view", ts("2024-01-01 09:00:00"), 1.0),
      (2L, 4L, "error", ts("2024-01-01 09:00:00"), 1.0), // same µs
      (2L, 12L, "purchase", ts("2024-01-01 09:30:00"), 7.0),
      (3L, 13L, "purchase", ts("2024-01-01 08:00:00"), 8.0)
    ).toDF("user_id", "event_id", "event_type", "ts", "value")
    val got = ops.Events.pitJoinOf(ev).collect()
      .map(r => r.getLong(1) -> Option(r.getString(4))).toMap
    assert(got === Map(
      10L -> Some("view"),  // inside the view version
      11L -> Some("click"), // AT the boundary: the NEW version governs
      12L -> Some("error"), // zero-width 'view' loses to its successor
      13L -> None),         // pre-history: left-join NULL
      got.toString)
  }

  test("pitJoinMultiOf: the widened payload rides the same edges intact") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // the pitJoinOf fixture, with distinct values/event_ids so every
    // attached attribute traces back to ONE specific version-opening
    // event — boundary, zero-width, and pre-history must all carry the
    // whole payload consistently (never a column from a different
    // version)
    val ev = Seq(
      (1L, 1L, "view", ts("2024-01-01 10:00:00"), 10.0),
      (1L, 2L, "click", ts("2024-01-01 11:00:00"), 20.0),
      (1L, 10L, "purchase", ts("2024-01-01 10:30:00"), 5.0),
      (1L, 11L, "purchase", ts("2024-01-01 11:00:00"), 6.0),
      (2L, 3L, "view", ts("2024-01-01 09:00:00"), 30.0),
      (2L, 4L, "error", ts("2024-01-01 09:00:00"), 40.0),
      (2L, 12L, "purchase", ts("2024-01-01 09:30:00"), 7.0),
      (3L, 13L, "purchase", ts("2024-01-01 08:00:00"), 8.0)
    ).toDF("user_id", "event_id", "event_type", "ts", "value")
    val got = ops.Events.pitJoinMultiOf(ev).collect().map { r =>
      r.getLong(1) -> (Option(r.getString(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))
    }.toMap
    assert(got === Map(
      10L -> ((Some("view"), Some(10.0), Some(1L))),
      11L -> ((Some("click"), Some(20.0), Some(2L))),
      12L -> ((Some("error"), Some(40.0), Some(4L))),
      13L -> ((None, None, None))),
      got.toString)
  }

  test("join_pit_multi agrees with join_pit on the shared columns") {
    import org.apache.spark.sql.functions._
    val narrow = SparkEntry.queries("join_pit")(spark, sf)
    val wide = SparkEntry.queries("join_pit_multi")(spark, sf)
      .select("user_id", "event_id", "ts", "value", "dim_type", "valid_from")
    assert(wide.count() === narrow.count())
    assert(wide.exceptAll(narrow).isEmpty && narrow.exceptAll(wide).isEmpty,
      "widening the payload must not move any governing version")
  }

  test("join_pit covers every purchase exactly once, versions never future") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("join_pit")(spark, sf).cache()
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(out.count() === purchases)
    assert(out.filter(col("valid_from") > col("ts")).count() === 0,
      "a PIT join must never attach a version from the future")
    out.unpersist()
  }

  test("customer_survival: a valid Kaplan-Meier curve that reconciles") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("customer_survival")(spark, sf).cache()
    val rows = out.orderBy("month").collect()
    assert(rows.nonEmpty, "the order history must contain churn")
    // survival and at-risk are non-increasing; survival stays in (0, 1]
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(4) <= a.getDouble(4) + 1e-9, "survival monotone")
      assert(b.getLong(1) <= a.getLong(1), "at-risk monotone")
    }
    assert(rows.forall(r => r.getDouble(4) > 0.0 || r.getLong(2) === r.getLong(1)))
    assert(rows.forall(r => r.getDouble(4) <= 1.0))
    // total deaths reconcile with the censoring rule applied directly
    val mIdx = year(col("o_orderdate")) * lit(12) + month(col("o_orderdate"))
    val orders = Tables.orders(spark, sf)
    val maxM = orders.agg(max(mIdx)).head.getInt(0)
    val churned = orders.groupBy(col("o_custkey")).agg(max(mIdx).as("lm"))
      .filter(lit(maxM) - col("lm") > 3).count()
    assert(out.agg(sum("n_died")).head.getLong(0) === churned)
  }
}
