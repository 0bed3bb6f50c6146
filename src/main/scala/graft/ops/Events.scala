package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._
import graft.functions.TextFns.{hash60, hash60Sql}

/** [EXT] Event-time operators over the `events` table (SURVEY §2.8).
  *
  * The reference is pure batch, so parity needs no Structured
  * Streaming — but the engine's event-time semantics are expressed
  * with the SAME primitives a `readStream` pipeline would use:
  * `window($"ts", …)` tumbling windows and per-key ordered state
  * (sessionization), both of which lift verbatim onto a streaming
  * DataFrame with a watermark. Running them on a batch frame keeps
  * them DuckDB-oracle-checkable.
  *
  * Scale design: both ops shuffle once on their natural key (the
  * window bucket / the user), with map-side partial aggregation for
  * the tumbling window. No global sort before aggregation; output
  * ordering is the final, post-aggregate orderBy.
  */
object Events {

  private val SessionGapMicros = 1800L * 1000 * 1000 // 30 min

  /** Hourly tumbling-window aggregate per event type: Spark's
    * `window()` event-time bucketing, count + exact decimal sum. */
  private def windowTumbling(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sumExact($"value").as("total_value"))
      .select($"window.start".as("hour_start"), $"event_type",
        $"n_events", $"total_value")
      .orderBy($"hour_start", $"event_type")
  }

  /** Gap-based sessionization (30-minute inactivity): mark session
    * starts with a lag over (user, time), number sessions with a
    * running sum, then aggregate each session's span. The batch
    * analogue of `mapGroupsWithState` session state. */
  private def eventSessions(s: SparkSession, d: String) = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"ts")
      .withColumn("is_new",
        when(lag($"ts", 1).over(w).isNull ||
          unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) >
            SessionGapMicros, 1).otherwise(0))
      .withColumn("session_id", sum($"is_new").over(run).cast("long"))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"))
      .orderBy($"user_id", $"session_id")
  }

  /** CDC latest-wins compaction: collapse the events changelog to one
    * row per user — the most recent record by (ts, event_id) — plus
    * the version count. Expressed as `max_by` over a unique ordering
    * struct rather than a row_number window on purpose: the aggregate
    * form gets map-side partial aggregation, so each input partition
    * reduces to AT MOST ONE row per key before the shuffle, while the
    * window form must shuffle every changelog row to its key's
    * partition first. At 100 TB of CDC log with a bounded key space
    * that is the difference between shuffling keys and shuffling the
    * log. The (ts, event_id) tiebreak is total (event_id is unique),
    * so the survivor is deterministic under any partitioning or
    * combine order. */
  private def cdcUpsert(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(
        expr("""max_by(
          named_struct('ts', ts, 'event_id', event_id,
                       'event_type', event_type, 'value', value),
          named_struct('ts', ts, 'event_id', event_id))""").as("last"),
        count(lit(1)).as("n_versions"))
      .select($"user_id",
        $"last.ts".as("last_ts"),
        $"last.event_id".as("last_event_id"),
        $"last.event_type".as("last_type"),
        $"last.value".as("last_value"),
        $"n_versions")
      .orderBy($"user_id")
  }

  /** As-of join — an operator Spark lacks natively, composed from
    * existing ops (SURVEY §2.9 preference order (a)): for every
    * 'error' event, the most recent 'click' of the same user STRICTLY
    * before it — the same predicate the DuckDB oracle's native
    * `ASOF JOIN ... ON e.ts > c.ts` evaluates, so the two engines agree
    * even when an error and a click share a timestamp. Implementation:
    * one sorted carry-forward window over the union of both sides — a
    * single shuffle on the join key, no range-join explosion. The
    * strict bound is enforced with a RANGE frame ending at -1 µs, which
    * excludes every same-timestamp row from the frame; clicks that tie
    * on (user_id, ts) are first collapsed to the max event_id, making
    * the carried value deterministic under any partitioning (mirrored
    * in the oracle's clicks CTE). */
  private def joinAsof(s: SparkSession, d: String) = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .filter($"event_type".isin("click", "error"))
      .select($"user_id", $"event_id", $"ts", $"event_type")
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("event_id"))
      .select($"user_id", $"event_id", $"ts", lit(true).as("is_click"))
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"event_id", $"ts", lit(false).as("is_click"))
    val w = Window.partitionBy($"user_id").orderBy($"tsu")
      .rangeBetween(Window.unboundedPreceding, -1)
    clicks.unionByName(errors)
      .withColumn("tsu", unix_micros($"ts"))
      .withColumn("click_id",
        last(when($"is_click", $"event_id"), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when($"is_click", $"ts"), ignoreNulls = true).over(w))
      .filter(!$"is_click")
      .select($"user_id", $"event_id".as("error_id"), $"ts".as("error_ts"),
        $"click_id", $"click_ts",
        ($"tsu" - unix_micros($"click_ts")).as("micros_since_click"))
      .orderBy($"user_id", $"error_id")
  }

  /** Nearest-neighbor as-of join — the symmetric sibling of
    * [[joinAsof]]: every 'error' matched to the CLOSEST same-user
    * 'click' in either direction (sensor alignment / "which action is
    * this error about" semantics, where a click moments after the
    * error is a better explanation than one an hour before). One
    * union + two carry windows over the SAME user partitioning — the
    * backward carry of [[joinAsof]] plus its forward mirror — so the
    * data shuffles once and sorts twice in-partition; ties between the
    * two directions break to the earlier (backward) click. Strictly
    * same-timestamp clicks are excluded on both sides, matching
    * [[joinAsof]]'s strict bound; tie-on-ts clicks collapse to the max
    * event_id first so both carries are deterministic. `micros_offset`
    * is signed (negative = click before error). */
  private def joinAsofNearest(s: SparkSession, d: String) = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .filter($"event_type".isin("click", "error"))
      .select($"user_id", $"event_id", $"ts", $"event_type")
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("event_id"))
      .select($"user_id", $"event_id", $"ts", lit(true).as("is_click"))
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"event_id", $"ts", lit(false).as("is_click"))
    val wp = Window.partitionBy($"user_id").orderBy($"tsu")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy($"user_id").orderBy($"tsu")
      .rangeBetween(1, Window.unboundedFollowing)
    clicks.unionByName(errors)
      .withColumn("tsu", unix_micros($"ts"))
      .withColumn("prev_id",
        last(when($"is_click", $"event_id"), ignoreNulls = true).over(wp))
      .withColumn("prev_tsu",
        last(when($"is_click", $"tsu"), ignoreNulls = true).over(wp))
      .withColumn("next_id",
        first(when($"is_click", $"event_id"), ignoreNulls = true).over(wn))
      .withColumn("next_tsu",
        first(when($"is_click", $"tsu"), ignoreNulls = true).over(wn))
      .filter(!$"is_click")
      .withColumn("take_prev", $"next_tsu".isNull ||
        ($"prev_tsu".isNotNull &&
          ($"tsu" - $"prev_tsu") <= ($"next_tsu" - $"tsu")))
      .select($"user_id", $"event_id".as("error_id"), $"ts".as("error_ts"),
        when($"take_prev", $"prev_id").otherwise($"next_id").as("click_id"),
        timestamp_micros(
          when($"take_prev", $"prev_tsu").otherwise($"next_tsu")).as("click_ts"),
        (when($"take_prev", $"prev_tsu").otherwise($"next_tsu") - $"tsu")
          .as("micros_offset"))
      .orderBy($"user_id", $"error_id")
  }

  private def asofNearestOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, ts, event_type FROM events
      |  WHERE event_type IN ('click', 'error')
      |),
      |clicks AS (
      |  SELECT user_id, ts, MAX(event_id) AS event_id, TRUE AS is_click
      |  FROM ev WHERE event_type = 'click' GROUP BY user_id, ts
      |),
      |errors AS (
      |  SELECT user_id, event_id, ts, FALSE AS is_click
      |  FROM ev WHERE event_type = 'error'
      |),
      |u AS (
      |  SELECT *, epoch_us(ts) AS tsu FROM (
      |    SELECT user_id, event_id, ts, is_click FROM clicks
      |    UNION ALL
      |    SELECT user_id, event_id, ts, is_click FROM errors)
      |),
      |c AS (
      |  SELECT *,
      |    last_value(CASE WHEN is_click THEN event_id END IGNORE NULLS)
      |      OVER wp AS prev_id,
      |    last_value(CASE WHEN is_click THEN tsu END IGNORE NULLS)
      |      OVER wp AS prev_tsu,
      |    first_value(CASE WHEN is_click THEN event_id END IGNORE NULLS)
      |      OVER wn AS next_id,
      |    first_value(CASE WHEN is_click THEN tsu END IGNORE NULLS)
      |      OVER wn AS next_tsu
      |  FROM u
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY tsu
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |  wn AS (PARTITION BY user_id ORDER BY tsu
      |    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
      |),
      |chosen AS (
      |  SELECT *,
      |    next_tsu IS NULL OR (prev_tsu IS NOT NULL
      |      AND tsu - prev_tsu <= next_tsu - tsu) AS take_prev
      |  FROM c WHERE NOT is_click
      |)
      |SELECT user_id, event_id AS error_id, ts AS error_ts,
      |  CASE WHEN take_prev THEN prev_id ELSE next_id END AS click_id,
      |  make_timestamp(CASE WHEN take_prev THEN prev_tsu ELSE next_tsu END)
      |    AS click_ts,
      |  (CASE WHEN take_prev THEN prev_tsu ELSE next_tsu END) - tsu
      |    AS micros_offset
      |FROM chosen
      |ORDER BY user_id, error_id""".stripMargin

  /** Range join — interval containment of events in a generated table
    * of 2-hour windows (every other 6-hour slot of January 2024, the
    * deterministic stand-in for a maintenance-window dimension). A
    * non-equi join plans as BroadcastNestedLoopJoin with the SMALL
    * range table broadcast, so each event is tested against the
    * windows in its partition — the correct shape when the range side
    * is a dimension; a range-bucketing join (bucket both sides by
    * coarse time, equi-join buckets, filter) is the documented path
    * when BOTH sides are large. */
  private def joinRange(s: SparkSession, d: String) = {
    import s.implicits._
    val windows = s.range(31).toDF("w")
      .select($"w".cast("int").as("window_id"),
        // to_timestamp binds in the session TZ (pinned UTC), never the
        // JVM default zone — keeps the epoch identical to the oracle's
        // naive TIMESTAMP literal under any host timezone
        (to_timestamp(lit("2024-01-01 00:00:00")).cast("long") +
          $"w" * 6L * 3600).cast("timestamp").as("w_start"))
      .withColumn("w_end", ($"w_start".cast("long") + 2L * 3600).cast("timestamp"))
    Tables.events(s, d)
      .join(broadcast(windows),
        $"ts" >= $"w_start" && $"ts" < $"w_end")
      .groupBy($"window_id", $"w_start")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"window_id")
  }

  /** Range-bucketed interval join — the LARGE⋈LARGE form of
    * [[joinRange]] that SURVEY documents as the scale path when the
    * range side is NOT a broadcastable dimension: both sides map to
    * coarse 1-hour buckets (each 2-hour window explodes into the ≤ 2
    * buckets it overlaps, each event into exactly one), the join is a
    * plain shuffled equi-join on the bucket, and the precise
    * containment predicate filters inside matched buckets. No
    * BroadcastNestedLoopJoin anywhere — per-bucket work is bounded by
    * bucket occupancy, the property that survives when both sides are
    * 100 TB facts. The `shuffle_hash` hint pins the shuffled plan the
    * pattern exists for (the tiny test dimension would otherwise
    * auto-broadcast); result is provably identical to [[joinRange]],
    * which is the oracle. */
  private def joinRangeBucketed(s: SparkSession, d: String) = {
    import s.implicits._
    val bucketSecs = 3600L
    val epoch = to_timestamp(lit("2024-01-01 00:00:00")).cast("long")
    val windows = s.range(31).toDF("w")
      .select($"w".cast("int").as("window_id"),
        (epoch + $"w" * 6L * 3600).as("w_start_s"))
      .withColumn("w_end_s", $"w_start_s" + 2L * 3600)
      .select($"window_id", $"w_start_s", $"w_end_s",
        explode(sequence(
          floor($"w_start_s" / bucketSecs).cast("long"),
          floor(($"w_end_s" - 1) / bucketSecs).cast("long"))).as("bucket"))
    val ev = Tables.events(s, d)
      .select($"user_id", $"ts".cast("long").as("ts_s"),
        floor($"ts".cast("long") / bucketSecs).cast("long").as("bucket"))
    ev.join(windows.hint("shuffle_hash"), Seq("bucket"))
      .filter($"ts_s" >= $"w_start_s" && $"ts_s" < $"w_end_s")
      .groupBy($"window_id", $"w_start_s")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .select($"window_id", $"w_start_s".cast("timestamp").as("w_start"),
        $"n_events", $"n_users")
      .orderBy($"window_id")
  }

  /** Interval-OVERLAP join — the general two-interval-set member of
    * the range-join family (`join_range` is point-in-interval): user
    * SESSIONS (spans, from the same sessionization as
    * `event_sessions`) joined to the 2-hour maintenance windows they
    * overlap — the SCD2⋈SCD2 / downtime-impact shape. Both interval
    * sets explode to the coarse 1-hour buckets they cover, the join is
    * a plain shuffled equi-join on the bucket, the exact overlap
    * predicate filters inside matched buckets, and pairs matched in
    * several buckets collapse via one distinct — so per-bucket work is
    * bounded by bucket occupancy with NO nested loop, the form that
    * survives two 100 TB interval tables. Long intervals explode to
    * more buckets; a production job splits or caps outliers first
    * (the `domain_cap` pattern). Second-granularity bounds (timestamp
    * cast truncates toward 1970) are mirrored exactly in the oracle
    * via `epoch_us // 1000000`. */
  private def joinInterval(s: SparkSession, d: String) = {
    import s.implicits._
    val bucketSecs = 3600L
    val epoch = to_timestamp(lit("2024-01-01 00:00:00")).cast("long")
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .select($"user_id", $"event_id", $"ts")
      .withColumn("is_new",
        when(lag($"ts", 1).over(w).isNull ||
          unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) >
            SessionGapMicros, 1).otherwise(0))
      .withColumn("session_id", sum($"is_new").over(run).cast("long"))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts".cast("long")).as("s_start"),
        max($"ts".cast("long")).as("s_end"))
    val windows = s.range(31).toDF("wid")
      .select($"wid".cast("int").as("window_id"),
        (epoch + $"wid" * 6L * 3600).as("w_start_s"))
      .withColumn("w_end_s", $"w_start_s" + 2L * 3600)
    val sessB = sess.withColumn("bucket",
      explode(sequence(floor($"s_start" / bucketSecs).cast("long"),
        floor($"s_end" / bucketSecs).cast("long"))))
    val winB = windows.withColumn("bucket",
      explode(sequence(floor($"w_start_s" / bucketSecs).cast("long"),
        floor(($"w_end_s" - 1) / bucketSecs).cast("long"))))
    sessB.join(winB.hint("shuffle_hash"), Seq("bucket"))
      .filter($"s_start" < $"w_end_s" && $"w_start_s" <= $"s_end")
      .select($"window_id", $"w_start_s", $"user_id", $"session_id").distinct()
      .groupBy($"window_id", $"w_start_s")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct($"user_id").as("n_users"))
      .select($"window_id", $"w_start_s".cast("timestamp").as("w_start"),
        $"n_sessions", $"n_users")
      .orderBy($"window_id")
  }

  private def intervalOracle: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      |),
      |sess AS (
      |  SELECT user_id,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
      |    ts
      |  FROM marked
      |),
      |spans AS (
      |  SELECT user_id, sid,
      |    MIN(epoch_us(ts) // 1000000) AS s_start,
      |    MAX(epoch_us(ts) // 1000000) AS s_end
      |  FROM sess GROUP BY user_id, sid
      |),
      |windows AS (
      |  SELECT CAST(w AS INT) AS window_id,
      |    TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL '6 hours' AS w_start,
      |    epoch_us(TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL '6 hours')
      |      // 1000000 AS w_start_s
      |  FROM range(31) t(w)
      |)
      |SELECT w.window_id, w.w_start,
      |  COUNT(*) AS n_sessions,
      |  COUNT(DISTINCT s.user_id) AS n_users
      |FROM windows w
      |JOIN spans s
      |  ON s.s_start < w.w_start_s + 7200 AND w.w_start_s <= s.s_end
      |GROUP BY w.window_id, w.w_start
      |ORDER BY w.window_id""".stripMargin

  private val rangeOracle: String =
    """WITH windows AS (
      |  SELECT CAST(w AS INT) AS window_id,
      |    TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL '6 hours' AS w_start,
      |    TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL '6 hours' + INTERVAL '2 hours' AS w_end
      |  FROM range(31) t(w)
      |)
      |SELECT w.window_id, w.w_start,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN windows w
      |  ON e.ts >= w.w_start AND e.ts < w.w_end
      |GROUP BY w.window_id, w.w_start
      |ORDER BY window_id""".stripMargin

  /** Ordered conversion funnel (view → click → purchase): per user,
    * the earliest view, the first click strictly after it, the first
    * purchase strictly after that — sequence semantics, not mere
    * co-occurrence (a purchase before the click does not count).
    * Emitted as per-stage reached-user counts. Every stage is one
    * min-aggregate keyed on user_id joined to the previous stage's
    * survivors — all shuffles share the user key, so at scale the
    * funnel is a chain of co-partitioned narrow joins over an
    * ever-shrinking survivor set, never a self-join of the raw log. */
  // Path-analysis knobs: events per session contributing to the path
  // signature, and the report depth.
  private val PathMaxEvents = 5
  private val PathTopK = 20

  /** Top session paths — the Sankey/path-mining staple: each session's
    * first [[PathMaxEvents]] event types joined into a path signature
    * (`view>click>purchase`), counted across all sessions, top
    * [[PathTopK]] with share-of-sessions. The "what do users actually
    * do" report that funnels approximate with a fixed hypothesis.
    *
    * Scale: sessionization is the engine's standard per-user window;
    * the path build truncates to the first [[PathMaxEvents]] events
    * per session BEFORE collecting (row_number filter — bounded
    * payload per session), the ordered reassembly sorts ≤ 5-element
    * structs row-locally, and path counts combine map-side. Top-k is
    * a TakeOrdered global head, never a full sort. */
  private def eventsPaths(s: SparkSession, d: String) = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type", $"ts")
      .withColumn("is_new",
        when(lag($"ts", 1).over(w).isNull ||
          unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) >
            SessionGapMicros, 1).otherwise(0))
      .withColumn("session_id", sum($"is_new").over(run).cast("long"))
    val ws = Window.partitionBy($"user_id", $"session_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val paths = sess
      .withColumn("rn", row_number().over(ws))
      .filter($"rn" <= PathMaxEvents)
      .groupBy($"user_id", $"session_id")
      .agg(concat_ws(">", expr(
        "transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"))
        .as("path"))
    val counted = paths.groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .cache()
    val total = counted.agg(sum($"n_sessions").as("total"))
    counted.crossJoin(broadcast(total))
      .select($"path", $"n_sessions",
        roundHalfUp($"n_sessions" / $"total", 6).as("share"))
      .orderBy($"n_sessions".desc, $"path".asc)
      .limit(PathTopK)
  }

  private def pathsOracle: String =
    s"""WITH marked AS (
       |  SELECT user_id, event_id, event_type, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SessionGapMicros
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
       |),
       |sess AS (
       |  SELECT user_id, event_id, event_type, ts,
       |    CAST(SUM(is_new) OVER (PARTITION BY user_id
       |      ORDER BY ts ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM marked
       |),
       |numbered AS (
       |  SELECT user_id, session_id, event_type, ts, event_id,
       |    row_number() OVER (PARTITION BY user_id, session_id
       |      ORDER BY ts ASC, event_id ASC) AS rn
       |  FROM sess
       |),
       |paths AS (
       |  SELECT user_id, session_id,
       |    string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM numbered WHERE rn <= $PathMaxEvents
       |  GROUP BY user_id, session_id
       |),
       |counted AS (
       |  SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
       |),
       |total AS (SELECT CAST(SUM(n_sessions) AS BIGINT) AS total FROM counted)
       |SELECT c.path, c.n_sessions,
       |  ${roundHalfUpSql("1.0 * c.n_sessions / t.total", 6)} AS share
       |FROM counted c CROSS JOIN total t
       |ORDER BY c.n_sessions DESC, c.path ASC
       |LIMIT $PathTopK""".stripMargin

  /** The ordered view→click→purchase stage chain both funnel ops
    * share: per-user first-view time, first click AFTER it, first
    * purchase after that. */
  private def funnelStages(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", $"event_type", unix_micros($"ts").as("tsu"))
    def firstAfter(typ: String, prev: DataFrame, prevT: String, t: String) =
      ev.filter($"event_type" === typ)
        .join(prev.select($"user_id", col(prevT)), Seq("user_id"))
        .filter($"tsu" > col(prevT))
        .groupBy($"user_id").agg(min($"tsu").as(t))
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"tsu").as("t1"))
    val c = firstAfter("click", v, "t1", "t2")
    val p = firstAfter("purchase", c, "t2", "t3")
    (v, c, p)
  }

  private def eventsFunnel(s: SparkSession, d: String) = {
    import s.implicits._
    val (v, c, p) = funnelStages(s, d)
    v.agg(count(lit(1)).as("n_users")).select(lit(1L).as("stage"),
        lit("view").as("event_type"), $"n_users")
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit(2L).as("stage"), lit("click").as("event_type"), $"n_users"))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit(3L).as("stage"), lit("purchase").as("event_type"), $"n_users"))
      .orderBy($"stage")
  }

  /** Conversion-velocity report: the latency DISTRIBUTION between
    * funnel steps (how long view→click and click→purchase actually
    * take) — the metric that turns a funnel's survivor counts into an
    * actionable "where do users stall". Per step: converter count and
    * p50/p90/mean latency in seconds.
    *
    * Scale: reuses [[funnelStages]]'s survivor-set joins (each stage
    * filters before joining, so work tracks the ever-shrinking
    * converter set); the percentile aggregate runs per STEP over one
    * latency value per converter. Exact cross-engine floats: Spark's
    * `percentile` and DuckDB's `quantile_cont` both linearly
    * interpolate over the integer micros, the mean divides an exact
    * integer sum, and the µs→s conversions share one literal shape. */
  private def eventsFunnelLatency(s: SparkSession, d: String) = {
    import s.implicits._
    val (v, c, p) = funnelStages(s, d)
    val vc = c.join(v, "user_id")
      .select(lit(1L).as("stage"), lit("view_to_click").as("step"),
        ($"t2" - $"t1").as("lat_us"))
    val cp = p.join(c, "user_id")
      .select(lit(2L).as("stage"), lit("click_to_purchase").as("step"),
        ($"t3" - $"t2").as("lat_us"))
    vc.unionByName(cp)
      .groupBy($"stage", $"step")
      .agg(count(lit(1)).as("n_users"),
        expr("percentile(lat_us, 0.5)").as("p50u"),
        expr("percentile(lat_us, 0.9)").as("p90u"),
        sum($"lat_us").as("sumu"))
      .select($"stage", $"step", $"n_users",
        roundHalfUp($"p50u" / 1000000.0, 6).as("p50_s"),
        roundHalfUp($"p90u" / 1000000.0, 6).as("p90_s"),
        roundHalfUp($"sumu" / $"n_users" / 1000000.0, 6).as("avg_s"))
      .orderBy($"stage")
  }

  private def funnelLatencyOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events
       |),
       |v AS (
       |  SELECT user_id, MIN(tsu) AS t1 FROM ev
       |  WHERE event_type = 'view' GROUP BY user_id
       |),
       |c AS (
       |  SELECT e.user_id, MIN(e.tsu) AS t2
       |  FROM ev e JOIN v ON e.user_id = v.user_id
       |  WHERE e.event_type = 'click' AND e.tsu > v.t1
       |  GROUP BY e.user_id
       |),
       |p AS (
       |  SELECT e.user_id, MIN(e.tsu) AS t3
       |  FROM ev e JOIN c ON e.user_id = c.user_id
       |  WHERE e.event_type = 'purchase' AND e.tsu > c.t2
       |  GROUP BY e.user_id
       |),
       |lat AS (
       |  SELECT CAST(1 AS BIGINT) AS stage, 'view_to_click' AS step,
       |    c.t2 - v.t1 AS lat_us
       |  FROM c JOIN v ON v.user_id = c.user_id
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'click_to_purchase', p.t3 - c.t2
       |  FROM p JOIN c ON c.user_id = p.user_id
       |)
       |SELECT stage, step, COUNT(*) AS n_users,
       |  ${roundHalfUpSql("quantile_cont(lat_us, 0.5) / 1000000.0", 6)} AS p50_s,
       |  ${roundHalfUpSql("quantile_cont(lat_us, 0.9) / 1000000.0", 6)} AS p90_s,
       |  ${roundHalfUpSql(
      "CAST(SUM(lat_us) AS DOUBLE) / COUNT(*) / 1000000.0", 6)} AS avg_s
       |FROM lat
       |GROUP BY stage, step
       |ORDER BY stage""".stripMargin

  /** Weekly cohort retention matrix: users cohorted by the ISO week of
    * their first event, counted once per (cohort, week-offset) they
    * were active in — the classic retention triangle. Two keyed
    * shuffles (user for the cohort min + the distinct, then the
    * cohort/offset count, map-side combined); the offset is integer
    * day-arithmetic on week-truncated dates, so both engines agree
    * exactly. */
  /** Censoring horizon for [[customerSurvival]]: customers whose last
    * order falls within this many calendar months of the corpus end
    * are CENSORED (still alive at observation end), not churned. */
  private val SurvivalCensorMonths = 3

  /** Kaplan–Meier customer-lifetime table — the survival/churn curve
    * `events_retention`'s cohort triangle does not give you: per
    * customer, lifetime = calendar months from first to last order
    * (the `fn_date_diff_month` integer-arithmetic form, exact in both
    * engines), censored if the last order sits within
    * [[SurvivalCensorMonths]] months of the corpus end (counting the
    * still-active as churned is the classic right-censoring bias —
    * 487 of 1500 customers here); per death month t, the at-risk
    * count (lifetime ≥ t, censored included while at risk), deaths,
    * hazard d/n, and the product-limit survival Π(1 − d/n) — computed
    * as exp of the DECIMAL-summed 9 dp-quantized ln terms (the
    * `corpus_temperature_mix` transcendental recipe, so both engines
    * walk identical doubles), with extinction (d = n) pinned to 0
    * explicitly since its ln term is −∞.
    *
    * Scale: one customer-keyed fold to lifetimes, then everything
    * runs on the ≤ |corpus-span-months| histogram — the ordered
    * windows touch ~80 rows at any order volume. */
  private def customerSurvival(s: SparkSession, d: String) = {
    import s.implicits._
    def mIdx(c: org.apache.spark.sql.Column) = year(c) * lit(12) + month(c)
    val maxM = Tables.orders(s, d)
      .agg(max(mIdx($"o_orderdate")).as("max_m")) // 1 row
    val life = Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(min(mIdx($"o_orderdate")).as("fm"), max(mIdx($"o_orderdate")).as("lm"))
      .crossJoin(broadcast(maxM))
      .select($"o_custkey", ($"lm" - $"fm").as("dur"),
        ($"max_m" - $"lm" > SurvivalCensorMonths).as("died"))
    val tot = life.agg(count(lit(1)).as("n_users")) // 1 row
    val hist = life.groupBy($"dur")
      .agg(count(lit(1)).as("n_all"),
        sum(when($"died", 1L).otherwise(0L)).as("n_died"))
    val byDay = Window.orderBy($"dur".asc)
    val prior = byDay.rowsBetween(Window.unboundedPreceding, -1)
    val upto = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        $"n_users" - coalesce(sum($"n_all").over(prior), lit(0L)))
      .filter($"n_died" > 0)
      .withColumn("hazard", roundHalfUp(lit(1.0) * $"n_died" / $"n_risk", 6))
      .withColumn("lnterm",
        when($"n_died" === $"n_risk", lit(0.0)).otherwise(
          roundHalfUp(log(lit(1.0) - lit(1.0) * $"n_died" / $"n_risk"), 9)))
      .withColumn("survival",
        when($"n_died" === $"n_risk", lit(0.0)).otherwise(
          roundHalfUp(exp(
            sum($"lnterm".cast("decimal(27,18)")).over(upto).cast("double")),
            6)))
      .select($"dur".as("month"), $"n_risk", $"n_died", $"hazard", $"survival")
      .orderBy($"month")
  }

  private def survivalOracle: String = {
    val h = "1.0 * n_died / n_risk"
    import graft.functions.Exact.roundHalfUpSql
    s"""WITH md AS (
       |  SELECT MAX(YEAR(o_orderdate) * 12 + MONTH(o_orderdate)) AS max_m
       |  FROM orders
       |),
       |life AS (
       |  SELECT o_custkey,
       |    MAX(YEAR(o_orderdate) * 12 + MONTH(o_orderdate)) -
       |      MIN(YEAR(o_orderdate) * 12 + MONTH(o_orderdate)) AS dur,
       |    (SELECT max_m FROM md) -
       |      MAX(YEAR(o_orderdate) * 12 + MONTH(o_orderdate))
       |      > $SurvivalCensorMonths AS died
       |  FROM orders GROUP BY o_custkey
       |),
       |tot AS (SELECT COUNT(*) AS n_users FROM life),
       |hist AS (
       |  SELECT dur, COUNT(*) AS n_all,
       |    CAST(SUM(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS n_died
       |  FROM life GROUP BY dur
       |),
       |risk AS (
       |  SELECT dur, n_died,
       |    t.n_users - COALESCE(SUM(n_all) OVER (ORDER BY dur ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |  FROM hist CROSS JOIN tot t
       |),
       |terms AS (
       |  SELECT dur, n_died, n_risk,
       |    CASE WHEN n_died = n_risk THEN 0.0
       |         ELSE ${roundHalfUpSql(s"ln(1.0 - $h)", 9)} END AS lnterm
       |  FROM risk WHERE n_died > 0
       |)
       |SELECT CAST(dur AS INT) AS month, CAST(n_risk AS BIGINT) AS n_risk,
       |  n_died, ${roundHalfUpSql(h, 6)} AS hazard,
       |  CASE WHEN n_died = n_risk THEN 0.0
       |       ELSE ${roundHalfUpSql(
        "exp(CAST(SUM(CAST(lnterm AS DECIMAL(27,18))) OVER (ORDER BY dur ASC " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE))", 6)}
       |  END AS survival
       |FROM terms
       |ORDER BY month""".stripMargin
  }

  private def eventsRetention(s: SparkSession, d: String) = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", to_date(date_trunc("week", $"ts")).as("wk"))
    val cohorts = ev.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
    ev.distinct()
      .join(cohorts, "user_id")
      .select($"cohort_week",
        (datediff($"wk", $"cohort_week") / 7).cast("long").as("week_offset"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(count(lit(1)).as("n_active_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** Time-series gap fill — the resample primitive every monitoring /
    * feature pipeline needs on top of `window_tumbling`: materialize
    * EVERY hourly bucket in the observed range for every event type
    * (an aggregate alone silently drops empty hours), zero-fill the
    * counts, and carry the last observed hourly total forward across
    * the gaps (`last_value IGNORE NULLS`; hours before a type's first
    * observation stay NULL — there is nothing to carry). Scale shape:
    * the hour spine is `sequence()` off a 1-row global min/max
    * aggregate crossed with the distinct type table — both broadcast
    * (the spine is hours × types, never data-sized) — and the fill
    * window partitions per type, so the only data-sized move is the
    * hourly pre-aggregate's one keyed shuffle. */
  private def timeseriesFill(s: SparkSession, d: String) = {
    import s.implicits._
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sumExact($"value").as("v"))
    val bounds = Tables.events(s, d)
      .agg(date_trunc("hour", min($"ts")).as("lo"),
        date_trunc("hour", max($"ts")).as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
      .crossJoin(Tables.events(s, d).select($"event_type").distinct())
    val byType = Window.partitionBy($"event_type").orderBy($"hour".asc)
    spine.join(hourly, Seq("hour", "event_type"), "left")
      .select($"event_type", $"hour",
        coalesce($"n", lit(0L)).as("n_events"),
        roundHalfUp(last($"v", ignoreNulls = true).over(byType), 6)
          .as("filled_value"))
      .orderBy($"event_type", $"hour")
  }

  /** SCD Type-2 interval builder — the other half of the CDC family
    * next to `cdc_upsert`'s latest-wins compaction: compress each
    * user's event_type changelog into validity intervals
    * (state, valid_from, valid_to, is_current), keeping only rows
    * where the state actually CHANGED (consecutive duplicates fold
    * into their first occurrence, the standard SCD2 rule). Both the
    * change filter (lag) and the interval close (lead over the
    * surviving rows) partition on user_id, so the whole build is ONE
    * keyed shuffle; at 100 TB this is the dimension-history
    * materialization pattern — per-key ordered scan, no self-join on
    * the changelog. Ties on ts break by event_id in both engines. */
  private def scd2Intervals(s: SparkSession, d: String) = {
    import s.implicits._
    scd2Of(Tables.events(s, d)).orderBy($"user_id", $"valid_from", $"event_type")
  }

  /** The SCD2 interval build over any (user_id, event_type, ts,
    * event_id) frame — shared by the full-rebuild op and the
    * incremental path's store stand-in. Unordered (callers sort). */
  private[graft] def scd2Of(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    events
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("prev_type", lag($"event_type", 1).over(byUser))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
      .withColumn("valid_to", lead($"ts", 1).over(byUser))
      .select($"user_id", $"event_type", $"ts".as("valid_from"),
        $"valid_to", $"valid_to".isNull.as("is_current"))
  }

  /** Merge a day's CDC batch into a PERSISTED SCD2 dimension — the
    * maintenance job `scd2_intervals`' full rebuild stands in for at
    * 100 TB (rebuilding type-2 history over years of events per day
    * is exactly the anti-pattern): each new event's change detection
    * is SEEDED with the affected key's stored open-interval type (the
    * last pre-batch type by construction, since events between
    * changes share the current change's type), the stored open
    * interval closes at the key's first new change, new intervals
    * chain among themselves, and unaffected keys pass through
    * UNTOUCHED — per-batch cost tracks the increment plus one keyed
    * join against the store, never the history. Batches must be time
    * slices (late data re-opens history — the standard SCD2 contract).
    * The merge is EXACTLY rebuild-equivalent, so the incremental op
    * faces the full-rebuild oracle. */
  private[graft] def scd2Merge(store: DataFrame, newEvents: DataFrame): DataFrame = {
    import store.sparkSession.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val seed = store.filter($"is_current")
      .select($"user_id", $"event_type".as("seed_type"))
    val ch = newEvents
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .join(seed, Seq("user_id"), "left")
      .withColumn("prev_type",
        coalesce(lag($"event_type", 1).over(byUser), $"seed_type"))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
      .select($"user_id", $"event_type", $"ts", $"event_id")
    val newIntervals = ch
      .withColumn("valid_to", lead($"ts", 1).over(byUser))
      .select($"user_id", $"event_type", $"ts".as("valid_from"),
        $"valid_to", $"valid_to".isNull.as("is_current"))
    val firstChange = ch.groupBy($"user_id").agg(min($"ts").as("first_ts"))
    store.join(firstChange, Seq("user_id"), "left")
      .select($"user_id", $"event_type", $"valid_from",
        when($"is_current" && $"first_ts".isNotNull, $"first_ts")
          .otherwise($"valid_to").as("valid_to"),
        ($"is_current" && $"first_ts".isNull).as("is_current"))
      .unionByName(newIntervals)
      .orderBy($"user_id", $"valid_from", $"event_type")
  }

  /** The last 7 days of the log play the CDC batch; everything before
    * is the persisted dimension (built in-query as the store stand-in
    * — Scd2IncrementalSpec proves the parquet store path identical). */
  private def scd2Incremental(s: SparkSession, d: String) = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"user_id", $"event_type", $"ts", $"event_id")
    val maxTs = ev.agg(max($"ts")).head.getTimestamp(0) // driver scalar
    // empty log → null max; any cutoff yields the same (empty) result
    val cutoff = new java.sql.Timestamp(
      (if (maxTs == null) 0L else maxTs.getTime) - 7L * 86400 * 1000)
    scd2Merge(scd2Of(ev.filter($"ts" < lit(cutoff))),
      ev.filter($"ts" >= lit(cutoff)))
  }

  /** Per-type z-score anomaly flagging: events whose value sits more
    * than 3σ from their type's mean. Mean and σ come from the SAME
    * decimal-exact power sums as `agg_stats_moments` — both engines
    * derive identical doubles, so even the filter BOUNDARY (an event
    * at exactly 3σ) cannot disagree. The per-type stats table is
    * broadcast back to the scan, so flagging is one scan + one tiny
    * aggregate at any log size. */
  private def eventsAnomaly(s: SparkSession, d: String) =
    eventsAnomalyOf(Tables.events(s, d))

  /** Spec hook: [[eventsAnomaly]] over an arbitrary (event_id,
    * event_type, value) frame, so tests can feed degenerate groups
    * (n=1, constant values) the testdata never contains. */
  private[graft] def eventsAnomalyOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val dec = "decimal(38,6)"
    val ev = events.select($"event_id", $"event_type", $"value")
    val stats = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(dec)).cast("double").as("sx"),
        sum(($"value" * $"value").cast(dec)).cast("double").as("sxx"))
      // NULLIF guards: an n=1 type (σ over zero dof) or constant-valued
      // type (σ = 0) divides by zero — Spark doubles yield NULL, DuckDB
      // (ieee_floating_point_ops) inf/NaN; guarding identically in both
      // engines makes degenerate types agree by construction (NULL σ
      // never passes the 3σ filter on either side)
      .select($"event_type", ($"sx" / $"n").as("mu"),
        sqrt(($"sxx" - $"sx" * $"sx" / $"n") / nullif($"n" - 1, lit(0))).as("sigma"))
    ev.join(broadcast(stats), "event_type")
      .filter(abs($"value" - $"mu") > lit(3.0) * $"sigma")
      .select($"event_type", $"event_id",
        roundHalfUp($"value", 6).as("value"),
        roundHalfUp(($"value" - $"mu") / nullif($"sigma", lit(0.0)), 4).as("zscore"))
      .orderBy($"event_type", $"event_id")
  }

  /** Winsorized outlier capping — the feature-pipeline complement to
    * `events_anomaly`'s flagging: per type, values clamp into the
    * exact interpolated [p01, p99] band and the capped distribution is
    * summarized (capped-low/high counts, decimal-exact capped mean).
    * The percentile bounds are quantized to 6 dp IN BOTH ENGINES
    * before clamping/comparison — interpolated percentiles can differ
    * in the last ulp between engines, and a boundary value must fall
    * on the same side everywhere. The per-type bounds broadcast back
    * to the scan: one ordered-aggregate pass + one scan at any log
    * size. */
  private def eventsWinsorize(s: SparkSession, d: String) = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"value")
    val pct = ev.groupBy($"event_type").agg(
      roundHalfUp(expr("percentile(value, 0.01)"), 6).as("lo"),
      roundHalfUp(expr("percentile(value, 0.99)"), 6).as("hi"))
    ev.join(broadcast(pct), "event_type")
      .select($"event_type",
        greatest($"lo", least($"hi", $"value")).as("v"),
        ($"value" < $"lo").cast("int").as("cl"),
        ($"value" > $"hi").cast("int").as("ch"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"cl").cast("long").as("n_capped_low"),
        sum($"ch").cast("long").as("n_capped_high"),
        roundHalfUp(sumExact($"v") / count(lit(1)), 6).as("capped_mean"))
      .orderBy($"event_type")
  }

  /** First-touch attribution: every purchase credits the event type
    * that OPENED its session (the marketing-attribution join of the
    * session family). Sessionization is the same lag/running-sum pair
    * as `event_sessions`; the session's first touch rides a second
    * window over the (user, session) key, and the final report is a
    * five-row aggregate. Scale: two keyed window shuffles (user, then
    * user+session — both skew-free keys) and a tiny final agg; nothing
    * is ever driver-side. */
  private def eventsAttribution(s: SparkSession, d: String) = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sw = Window.partitionBy($"user_id", $"session_id")
      .orderBy($"ts".asc, $"event_id".asc)
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
      .withColumn("is_new",
        when(lag($"ts", 1).over(w).isNull ||
          unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) >
            SessionGapMicros, 1).otherwise(0))
      .withColumn("session_id", sum($"is_new").over(run).cast("long"))
      .withColumn("first_touch", first($"event_type").over(sw))
      .filter($"event_type" === "purchase")
      .groupBy($"first_touch")
      .agg(count(lit(1)).as("n_purchases"),
        roundHalfUp(sumExact($"value"), 6).as("attributed_value"))
      .orderBy($"first_touch")
  }

  /** Event-type Markov transition matrix: per user (ordered by time),
    * each event hands off to the next, and every (prev → next) pair is
    * counted; the transition probability normalizes within the prev
    * row. The standard behavioral-model fit — and the shape of any
    * bigram model fit at scale.
    *
    * Scale: the lag rides ONE user-keyed window shuffle; the pair
    * count is map-side combined onto a #types² (tiny) result, and the
    * normalizing sum is a window over that tiny table. Probability is
    * an exact-integer double ratio — identical IEEE result both
    * engines, no rounding ambiguity (still quantized for the gate). */
  private def eventsMarkov(s: SparkSession, d: String) = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val byPrev = Window.partitionBy($"prev_type")
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("p_transition",
        roundHalfUp($"n_transitions".cast("double") /
          sum($"n_transitions").over(byPrev).cast("double"), 9))
      .select($"prev_type", $"event_type", $"n_transitions", $"p_transition")
      .orderBy($"prev_type", $"event_type")
  }

  /** Consecutive-day activity streaks per user — the gaps-and-islands
    * classic (row_number difference collapses each run of consecutive
    * active days to a constant island key). Scale: the distinct
    * (user, day) grid is the only data-sized shuffle; the window and
    * both aggregates all ride the same user key, and output is one row
    * per user. The island-key trick needs no self-join and no
    * sequence materialization, so it survives any date span. */
  private def eventsStreaks(s: SparkSession, d: String) = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day".asc)
    Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .withColumn("grp",
        datediff($"day", lit("2024-01-01").cast("date")) -
          row_number().over(w))
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(sum($"len").as("active_days"),
        max($"len").as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy($"user_id")
  }

  /** DAU / WAU / MAU + stickiness per observed day — the canonical
    * product-analytics activity report, built on the same
    * contribution-explode that powers `window_rolling_distinct`
    * (trailing COUNT(DISTINCT) has no window-frame form in either
    * engine): raw events collapse once to distinct (user, day) pairs,
    * each pair contributes to the 7 / 30 trailing-window end-days it
    * is active in, and distinct users are counted per end-day.
    * Stickiness = DAU/MAU, the classic engagement ratio.
    *
    * Scale: the pair-collapse is one keyed shuffle that absorbs event
    * volume (at most users × days rows survive); the ×30 explode
    * amplifies only the COLLAPSED pairs; the per-day distinct counts
    * are keyed shuffles over those. Flat as events-per-user-day grow —
    * the range-self-join alternative re-scans raw events 30×. */
  private def eventsDauMau(s: SparkSession, d: String) = {
    import s.implicits._
    val ud = Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    def trailing(n: Int, name: String) = ud
      .select($"user_id",
        explode(expr(s"sequence(day, date_add(day, ${n - 1}))")).as("day"))
      .groupBy($"day").agg(count_distinct($"user_id").as(name))
    ud.groupBy($"day").agg(count_distinct($"user_id").as("dau"))
      .join(trailing(7, "wau"), "day")
      .join(trailing(30, "mau"), "day")
      .select($"day", $"dau", $"wau", $"mau",
        roundHalfUp(lit(1.0) * $"dau" / $"mau", 6).as("stickiness"))
      .orderBy($"day")
  }

  private def dauMauOracle: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
       |),
       |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day),
       |wau AS (
       |  SELECT u.day + CAST(t.k AS INT) AS day, COUNT(DISTINCT u.user_id) AS wau
       |  FROM ud u CROSS JOIN range(7) t(k) GROUP BY 1
       |),
       |mau AS (
       |  SELECT u.day + CAST(t.k AS INT) AS day, COUNT(DISTINCT u.user_id) AS mau
       |  FROM ud u CROSS JOIN range(30) t(k) GROUP BY 1
       |)
       |SELECT d.day, d.dau, w.wau, m.mau,
       |  ${roundHalfUpSql("1.0 * d.dau / m.mau", 6)} AS stickiness
       |FROM dau d JOIN wau w ON w.day = d.day JOIN mau m ON m.day = d.day
       |ORDER BY d.day""".stripMargin

  /** RFM (recency / frequency / monetary) segmentation — the classic
    * customer-scoring primitive, in the SCALE-HONEST form: quintile
    * scores come from exact percentile BOUNDARIES computed on the
    * per-user aggregate and broadcast back (one tiny 1-row table), not
    * from a global `ntile` window, which would be a single-partition
    * sort of every user at 100 TB. Recency scores invert (recent =
    * high); the 3-digit segment code is the standard R·100+F·10+M.
    *
    * Shuffles: one user-keyed aggregate (map-side combined, exact
    * decimal monetary), one 1-row percentile aggregate, and the output
    * sort. Boundaries quantize to 6 dp (the winsorize recipe) so both
    * engines cut the quintiles at identical doubles, and every
    * comparison is value > boundary with exact-integer or decimal-exact
    * left sides — a tie lands the same side in both engines. */
  private def eventsRfm(s: SparkSession, d: String) = {
    import s.implicits._
    val maxDay = Tables.events(s, d).agg(max(to_date($"ts")).as("max_day"))
    val per = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(to_date($"ts")).as("last_day"),
        count(lit(1)).as("frequency"),
        roundHalfUp(sumExact($"value"), 6).as("monetary"))
      .crossJoin(broadcast(maxDay))
      .select($"user_id",
        datediff($"max_day", $"last_day").cast("long").as("recency_days"),
        $"frequency", $"monetary")
    // literal "0.2"/"0.4"/"0.6"/"0.8" text in BOTH engines — computing
    // i * 0.2 would give 0.6000000000000001 here and 0.6 there
    val qCols = for {
      (col0, pfx) <- Seq("recency_days" -> "r", "frequency" -> "f",
        "monetary" -> "m")
      i <- 1 to 4
    } yield roundHalfUp(expr(s"percentile($col0, 0.${2 * i})"), 6)
      .as(s"$pfx$i")
    val qs = per.agg(qCols.head, qCols.tail: _*)
    def above(pfx: String,
              v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (1 to 4).map(i => (v > org.apache.spark.sql.functions.col(s"$pfx$i"))
        .cast("int")).reduce(_ + _)
    per.crossJoin(broadcast(qs))
      .select($"user_id", $"recency_days", $"frequency", $"monetary",
        (lit(5) - above("r", $"recency_days")).as("r_score"),
        (lit(1) + above("f", $"frequency")).as("f_score"),
        (lit(1) + above("m", $"monetary")).as("m_score"))
      .withColumn("segment",
        ($"r_score" * 100 + $"f_score" * 10 + $"m_score").cast("long"))
      .orderBy($"user_id")
  }

  private def rfmOracle: String = {
    val qDefs = (for {
      (col0, pfx) <- Seq("recency_days" -> "r", "frequency" -> "f",
        "monetary" -> "m")
      i <- 1 to 4
    } yield s"${roundHalfUpSql(s"quantile_cont($col0, 0.${2 * i})", 6)} AS $pfx$i")
      .mkString(",\n    ")
    def above(col0: String, pfx: String) = (1 to 4)
      .map(i => s"CASE WHEN $col0 > $pfx$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH per AS (
       |  SELECT user_id,
       |    CAST(datediff('day', MAX(CAST(ts AS DATE)),
       |      (SELECT MAX(CAST(ts AS DATE)) FROM events)) AS BIGINT)
       |      AS recency_days,
       |    COUNT(*) AS frequency,
       |    ${roundHalfUpSql(
            "CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)", 6)} AS monetary
       |  FROM events GROUP BY user_id
       |),
       |qs AS (
       |  SELECT
       |    $qDefs
       |  FROM per
       |),
       |scored AS (
       |  SELECT user_id, recency_days, frequency, monetary,
       |    5 - (${above("recency_days", "r")}) AS r_score,
       |    1 + (${above("frequency", "f")}) AS f_score,
       |    1 + (${above("monetary", "m")}) AS m_score
       |  FROM per CROSS JOIN qs
       |)
       |SELECT user_id, recency_days, frequency, monetary,
       |  r_score, f_score, m_score,
       |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment
       |FROM scored
       |ORDER BY user_id""".stripMargin
  }

  private val streamRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** The Structured Streaming path run to completion through the batch
    * correctness gate: the SAME `tumblingCounts` transform the
    * streaming specs exercise ([[graft.streaming.EventStream]]) reads
    * the events table as a FILE STREAM (`readStream.parquet`), runs
    * under `Trigger.AvailableNow` until the source drains, and the
    * final aggregate is compared against the batch `window_tumbling`
    * oracle — so the `readStream → watermark → window → sink` plumbing
    * itself is hash-checked against DuckDB, not just spec-asserted.
    * The memory sink (complete mode) is the harness-side choice: the
    * result is a bounded hours×types aggregate, never data-sized. A
    * production job swaps the sink for files/Kafka in append mode;
    * state stays partitioned by (window, type) either way. */
  /** Event-type co-occurrence PMI over (user, day) activity groups —
    * the association-mining primitive behind "users who do X also do
    * Y" features and anomaly allow-lists: for every type pair, how
    * much MORE often they share a user-day than independence predicts
    * (PMI > 0 = attract, < 0 = repel).
    *
    * Scale: raw events collapse to distinct (user, day, type) in one
    * keyed shuffle; pair generation is a self-join KEYED on the
    * (user, day) group (groups are ≤ |type domain| wide, so the join
    * amplifies by at most types²/2 per group, never by event volume);
    * marginals and N ride the same collapsed frame. The PMI table
    * itself is ≤ types² rows. Determinism: counts are exact integers,
    * the ratio divides as identical IEEE doubles, and ln() quantizes
    * to 6 dp (the kit's transcendental recipe). */
  private def eventsPmi(s: SparkSession, d: String) = {
    import s.implicits._
    val udt = Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day"), $"event_type")
      .distinct()
      .cache()
    val n = udt.select($"user_id", $"day").distinct()
      .agg(count(lit(1)).as("n_days"))
    val marg = udt.groupBy($"event_type").agg(count(lit(1)).as("c"))
    val pairs = udt.as("a")
      .join(udt.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.day" === $"b.day" &&
          $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select($"event_type".as("type_a"),
        $"c".as("c_a"))), "type_a")
      .join(broadcast(marg.select($"event_type".as("type_b"),
        $"c".as("c_b"))), "type_b")
      .crossJoin(broadcast(n))
      .select($"type_a", $"type_b", $"n_ab",
        roundHalfUp(
          log(lit(1.0) * $"n_ab" * $"n_days" / ($"c_a" * $"c_b")), 6)
          .as("pmi"))
      .orderBy($"type_a", $"type_b")
  }

  private def pmiOracle: String =
    s"""WITH udt AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
       |  FROM events
       |),
       |n AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, day FROM udt)),
       |marg AS (SELECT event_type, COUNT(*) AS c FROM udt GROUP BY 1),
       |pairs AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    COUNT(*) AS n_ab
       |  FROM udt a JOIN udt b
       |    ON a.user_id = b.user_id AND a.day = b.day
       |    AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT p.type_a, p.type_b, p.n_ab,
       |  ${roundHalfUpSql("ln(1.0 * p.n_ab * n.n / (ma.c * mb.c))", 6)}
       |    AS pmi
       |FROM pairs p
       |JOIN marg ma ON ma.event_type = p.type_a
       |JOIN marg mb ON mb.event_type = p.type_b
       |CROSS JOIN n
       |ORDER BY type_a, type_b""".stripMargin

  /** Streaming file source over the events table, `ts` normalized as
    * in [[Tables.events]] (watermarks require TIMESTAMP). The
    * source path is a single parquet FILE; a non-glob path makes
    * FileStreamSource force basePath = the file itself (which it then
    * rejects), so address it as a glob and the base stays the table
    * dir. */
  private def streamingEvents(s: SparkSession, d: String): DataFrame =
    Tables.eventsVia(s, d)(
      s.readStream.schema(_).parquet(s"$d/{events.parquet}"))

  /** The SQL confs every stream key runs under (restored after):
    *   - the stateful-operator partition count, at most 8 and at most
    *     one task wave: each micro-batch commits every state-store
    *     partition across every stateful operator, so partitions here
    *     price PER-BATCH overhead, not parallelism — state is keyed by
    *     (window, …) groups whose cardinality is tiny next to the raw
    *     stream. At production scale this is the
    *     `spark.sql.shuffle.partitions` the streaming job is launched
    *     with, sized to live-state volume, not to input volume;
    *   - the FileSystem-based checkpoint manager for the offset/commit
    *     logs, the file-source log and the state stores. Its rename is
    *     `FileSystem.rename`; the default FileContext-based manager
    *     goes through Hadoop's local FS, which without native IO forks
    *     a `readlink` per rename and a `chmod` per create or mkdir
    *     (236 forks per `stream_tumbling` run, most of them inside the
    *     state-store commits). Both checksum layers (Hadoop `.crc`
    *     files, Spark's checkpoint file checksums) stay on. */
  private[graft] def streamConfs(s: SparkSession): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" ->
      math.min(8, s.sparkContext.defaultParallelism).toString,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** Run a finite streaming query (AvailableNow) into a memory sink
    * under [[streamConfs]] and return the sink's rows as a local
    * frame with the sink's schema. The sink's temp view is dropped, so
    * the query leaves no table in the session. */
  private def runStream(s: SparkSession, df: DataFrame, prefix: String,
                        mode: String): DataFrame = {
    val name = s"${prefix}_${streamRuns.incrementAndGet()}"
    SmallData.withConf(s, streamConfs(s): _*) {
      df.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val sink = s.table(name)
    try s.createDataFrame(sink.collectAsList(), sink.schema)
    finally s.catalog.dropTempView(name)
  }

  private def streamTumbling(s: SparkSession, d: String) = {
    import s.implicits._
    runStream(s, graft.streaming.EventStream.tumblingCounts(
        streamingEvents(s, d)), "graft_stream_tumbling", "complete")
      .orderBy($"hour_start", $"event_type")
  }

  /** ε-DP released STREAMING counts — the privacy ladder crossed into
    * the stream family: the tumbling per-(window, type) counts
    * aggregate as usual (state is the streaming agg's, untouched),
    * and Laplace(1/ε) noise is applied AT THE RELEASE POINT — the
    * drained sink — which is where a production pipeline perturbs
    * (the DP boundary sits between the trusted aggregator and the
    * consumer; noising inside the stream would re-noise every
    * micro-batch update of a window). Same deterministic seeded-hash
    * surrogate and (ε, Δ=1) accounting as `privacy_dp_counts`; true
    * counts never cross the release boundary.
    *
    * Scale: the streaming agg is `stream_tumbling`'s (map-side
    * combined, watermark-bounded state); the perturbation is one
    * row-local projection over the window×type-bounded release. */
  private def streamDpCounts(s: SparkSession, d: String) = {
    import s.implicits._
    val released = runStream(s,
      graft.streaming.EventStream.tumblingCounts(streamingEvents(s, d))
        .select($"hour_start", $"event_type", $"n_events"),
      "graft_stream_dp_counts", "complete")
    val u = (hash60(concat(lit("sdp:"), $"hour_start".cast("string"),
      lit("|"), $"event_type")) % 2000001L - 1000000L) / lit(1000001.0)
    released
      .withColumn("u", u)
      .select($"hour_start", $"event_type",
        roundHalfUp($"n_events" - lit(1.0 / 1.0) * signum($"u") *
          log(lit(1.0) - abs($"u")), 6).as("noisy_count"),
        lit(1.0).as("epsilon"),
        lit(1L).as("sensitivity"),
        lit(Curation.NoiseModel).as("noise_model"))
      .orderBy($"hour_start", $"event_type")
  }

  /** Oracle-gated run of the two-level streaming quantile twin
    * ([[graft.streaming.EventStream.windowedValueQuantiles]]). Append
    * mode emits only windows the final watermark sealed
    * (window end ≤ max event time − 2 h) — the oracle SQL applies the
    * same cutoff, so the sealed prefix is compared exactly. */
  private def streamQuantiles(s: SparkSession, d: String) = {
    import s.implicits._
    runStream(s, graft.streaming.EventStream.windowedValueQuantiles(
        streamingEvents(s, d)), "graft_stream_quantiles", "append")
      .orderBy($"hour_start", $"event_type")
  }

  /** Oracle-gated run of the streaming key-skew twin
    * ([[graft.streaming.EventStream.windowedKeySkew]]); same sealed-
    * window contract as [[streamQuantiles]]. */
  private def streamKeySkew(s: SparkSession, d: String) = {
    import s.implicits._
    runStream(s, graft.streaming.EventStream.windowedKeySkew(
        streamingEvents(s, d)), "graft_stream_skew", "append")
      .orderBy($"hour_start")
  }

  /** Oracle-gated run of the native `session_window` sessionizer
    * ([[graft.streaming.EventStream.sessionCounts]]). Append mode
    * emits only sessions the final watermark sealed. Two semantics the
    * oracle mirrors exactly:
    *   - `session_window` sessions are half-open [start, last+gap):
    *     an event landing EXACTLY gap after its predecessor does NOT
    *     merge (the batch `event_sessions` op merges at exactly gap —
    *     both conventions are valid; each op's oracle states its own);
    *   - the watermark is computed in MILLIS (max event time floored
    *     to ms, minus the delay), so the sealed predicate floors to ms
    *     before comparing. */
  private def streamSessions(s: SparkSession, d: String) = {
    import s.implicits._
    runStream(s, graft.streaming.EventStream.sessionCounts(
        streamingEvents(s, d)), "graft_stream_sessions", "append")
      .orderBy($"user_id", $"session_start")
  }

  /** Oracle-gated run of the native streaming-dedup operator
    * ([[graft.streaming.EventStream.dedupEventKeys]]). The
    * transform projects to the dedup key before deduplicating (the
    * surviving physical row per key within a micro-batch is
    * arbitrary, so only key columns are deterministic) and the
    * 30-day delay cannot evict state inside a drained run — the sink
    * therefore equals exact batch DISTINCT over the key, which is
    * the oracle; the delay is the production bounded-state knob, not
    * an observable of this run. Dedup emits in append mode
    * immediately (state only SUPPRESSES later duplicates), so no
    * sealed-window cutoff applies. */
  /** Streaming DOCUMENTS source — the crawl-stream analogue of
    * [[streamingEvents]] (same single-file-as-glob addressing). */
  private def streamingDocuments(s: SparkSession, d: String): DataFrame =
    s.readStream.schema(Tables.schemaOf(s, s"$d/documents.parquet"))
      .parquet(s"$d/{documents.parquet}")

  /** Streaming EMBEDDINGS source — the vector-ingest analogue. */
  private def streamingEmbeddings(s: SparkSession, d: String): DataFrame =
    s.readStream.schema(Tables.schemaOf(s, s"$d/embeddings.parquet"))
      .parquet(s"$d/{embeddings.parquet}")

  /** Oracle-gated run of the stream-static SEMANTIC decontamination
    * gate ([[graft.streaming.EventStream.semanticMatches]]): arriving
    * vectors assign row-locally to the frozen cells and match the
    * PERSISTED SemDeDup survivor store (both static frames, derived
    * in-query here — the store stand-in convention). Stateless, so
    * the drained append sink equals the batch derivation with no
    * sealed-window cutoff; StreamingSpec drives the same transform
    * through a MemoryStream and pins batch equality under arbitrary
    * micro-batch slicing. */
  private def streamSemantic(s: SparkSession, d: String) = {
    graft.expressions.GraftFunctions.ensure(s)
    import s.implicits._
    val (cents, surv) = Similarity.semanticSurvivorStore(s, d)
    runStream(s, graft.streaming.EventStream.semanticMatches(
        streamingEmbeddings(s, d), cents, surv),
        "graft_stream_semantic", "append")
      .orderBy($"vec_id", $"store_id")
  }

  /** Oracle-gated run of the stream-static decontamination gate
    * ([[graft.streaming.EventStream.contaminationMatches]]): the crawl
    * arrives as a document STREAM, the benchmark fingerprints are a
    * STATIC broadcast (sizes attached pre-join so nothing joins after
    * the stateful aggregation), and the drained complete-mode sink
    * equals batch `text_contamination` exactly — the same oracle text
    * gates both. */
  private def streamContamination(s: SparkSession, d: String) = {
    graft.expressions.GraftFunctions.ensure(s)
    import s.implicits._
    val probe = graft.streaming.EventStream.contaminationProbe(
      Tables.documents(s, d))
    runStream(s, graft.streaming.EventStream.contaminationMatches(
        streamingDocuments(s, d), probe), "graft_stream_contam", "complete")
      .orderBy($"doc_id", $"probe_id")
  }

  /** Point-in-time (PIT) join — attach to every fact row the dimension
    * VERSION that was valid at the fact's event time, the correctness
    * backbone of feature stores and ML training joins (training-time
    * leakage is exactly a PIT join done wrong). Dim = the SCD2 type
    * history over each user's NON-purchase events ([[scd2Of]]);
    * facts = purchases; a purchase must see the user state as of its
    * timestamp, never a later version.
    *
    * Engine plan: the as-of carry-forward — version starts and facts
    * UNION into one user-keyed sorted window, `last(_, ignoreNulls)`
    * carries the governing version onto each fact — ONE keyed shuffle,
    * no interval-join row explosion. The ORACLE states the textbook
    * predicate (`vf ≤ ts < vt` LEFT JOIN), so the hash gate PROVES the
    * carry-forward implements interval semantics, including the edges:
    * a fact AT a boundary takes the NEW version (versions sort before
    * facts at equal ts), zero-width versions (two changes at one µs)
    * lose to their successor (ties order by valid_to, open interval
    * last), and pre-history facts carry NULLs (left-join parity). */
  private def joinPit(s: SparkSession, d: String) =
    pitJoinOf(Tables.events(s, d))

  /** [[joinPit]] over an arbitrary events-shaped frame (spec hook for
    * the boundary/zero-width/pre-history edge fixtures). */
  private[graft] def pitJoinOf(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val dim = scd2Of(ev.filter($"event_type" =!= "purchase"))
    val facts = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts", $"value")
    val u = dim.select($"user_id", $"valid_from".as("ts"), lit(0).as("tag"),
        coalesce(unix_micros($"valid_to"), lit(Long.MaxValue)).as("vto"),
        $"event_type".as("dtype"), $"valid_from".as("vf"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"))
      .unionByName(facts.select($"user_id", $"ts", lit(1).as("tag"),
        lit(0L).as("vto"), lit(null).cast("string").as("dtype"),
        lit(null).cast("timestamp").as("vf"), $"event_id", $"value"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"tag".asc, $"vto".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("dim_type", last($"dtype", ignoreNulls = true).over(w))
      .withColumn("valid_from", last($"vf", ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"user_id", $"event_id", $"ts", $"value", $"dim_type",
        $"valid_from")
      .orderBy($"user_id", $"event_id")
  }

  /** PIT join generalized to a MULTI-ATTRIBUTE SCD2 dimension — the
    * feature-store shape at width: each version carries its full
    * payload (type, the opening event's value and event_id, and
    * valid_from), and the whole payload rides the SAME single
    * user-keyed carry-forward window as ONE struct column
    * (`last(struct(...), ignoreNulls)`) — attaching k more version
    * attributes costs zero additional shuffles or windows, which is
    * exactly why the carry-forward beats a per-attribute lookup at
    * warehouse width. The oracle states the textbook interval LEFT
    * JOIN over the widened dim, so the hash gate proves the struct
    * carry preserves interval semantics attribute-for-attribute;
    * EventsSpec drives the boundary / zero-width / pre-history edges
    * through the widened path. */
  private def joinPitMulti(s: SparkSession, d: String) =
    pitJoinMultiOf(Tables.events(s, d))

  /** [[joinPitMulti]] over an arbitrary events-shaped frame. */
  private[graft] def pitJoinMultiOf(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val wv = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val changes = ev.filter($"event_type" =!= "purchase")
      .withColumn("prev_type", lag($"event_type", 1).over(wv))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
      .select($"user_id", $"event_type".as("dtype"), $"value".as("dval"),
        $"event_id".as("deid"), $"ts".as("valid_from"))
    val dim = changes.withColumn("valid_to",
      lead($"valid_from", 1).over(Window.partitionBy($"user_id")
        .orderBy($"valid_from".asc, $"deid".asc)))
    val payT = "struct<dtype:string,dval:double,deid:bigint,vf:timestamp>"
    val facts = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts", $"value")
    val u = dim.select($"user_id", $"valid_from".as("ts"), lit(0).as("tag"),
        coalesce(unix_micros($"valid_to"), lit(Long.MaxValue)).as("vto"),
        struct($"dtype", $"dval", $"deid", $"valid_from".as("vf")).as("pay"),
        lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"))
      .unionByName(facts.select($"user_id", $"ts", lit(1).as("tag"),
        lit(0L).as("vto"), lit(null).cast(payT).as("pay"),
        $"event_id", $"value"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"tag".asc, $"vto".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("gov", last($"pay", ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"user_id", $"event_id", $"ts", $"value",
        $"gov.dtype".as("dim_type"), $"gov.dval".as("dim_value"),
        $"gov.deid".as("dim_event_id"), $"gov.vf".as("valid_from"))
      .orderBy($"user_id", $"event_id")
  }

  private def pitMultiOracle: String =
    """WITH dim AS (
      |  SELECT user_id, event_type AS dim_type, value AS dim_value,
      |    event_id AS dim_event_id, ts AS valid_from,
      |    LEAD(ts) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC) AS valid_to
      |  FROM (
      |    SELECT user_id, event_type, value, ts, event_id,
      |      LAG(event_type) OVER (PARTITION BY user_id
      |        ORDER BY ts ASC, event_id ASC) AS prev_type
      |    FROM events WHERE event_type <> 'purchase')
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |)
      |SELECT f.user_id, f.event_id, f.ts, f.value,
      |  d.dim_type, d.dim_value, d.dim_event_id, d.valid_from
      |FROM events f LEFT JOIN dim d
      |  ON d.user_id = f.user_id AND f.ts >= d.valid_from
      |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
      |WHERE f.event_type = 'purchase'
      |ORDER BY f.user_id, f.event_id""".stripMargin

  private def pitOracle: String =
    """WITH dim AS (
      |  SELECT user_id, event_type AS dim_type, ts AS valid_from,
      |    LEAD(ts) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC, event_id ASC) AS valid_to
      |  FROM (
      |    SELECT user_id, event_type, ts, event_id,
      |      LAG(event_type) OVER (PARTITION BY user_id
      |        ORDER BY ts ASC, event_id ASC) AS prev_type
      |    FROM events WHERE event_type <> 'purchase')
      |  WHERE prev_type IS NULL OR prev_type <> event_type
      |)
      |SELECT f.user_id, f.event_id, f.ts, f.value,
      |  d.dim_type, d.valid_from
      |FROM events f LEFT JOIN dim d
      |  ON d.user_id = f.user_id AND f.ts >= d.valid_from
      |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
      |WHERE f.event_type = 'purchase'
      |ORDER BY f.user_id, f.event_id""".stripMargin

  /** Oracle-gated run of the streaming ingest quality gate
    * ([[graft.streaming.EventStream.qualityGateRates]]): documents
    * stream in, the classifier scores each ROW-LOCALLY (stateless —
    * weights are a broadcast 1-row frame), and ONE complete-mode fold
    * maintains per-SOURCE doc/keep counts, DECIMAL-summed mean score,
    * and the live keep rate — the feed-health gauge a crawler
    * operator watches. Drained, the sink equals the batch per-source
    * classifier summary, which is the oracle; state is one counter
    * row per source, never per document. */
  private def streamQualityGate(s: SparkSession, d: String) = {
    graft.expressions.GraftFunctions.ensure(s)
    import s.implicits._
    runStream(s, graft.streaming.EventStream.qualityGateRates(
        streamingDocuments(s, d)), "graft_stream_qgate", "complete")
      .orderBy($"source")
  }

  private def streamDedup(s: SparkSession, d: String) = {
    import s.implicits._
    runStream(s, graft.streaming.EventStream.dedupEventKeys(
        streamingEvents(s, d)), "graft_stream_dedup", "append")
      .orderBy($"user_id", $"event_type", $"ts")
  }

  /** Oracle-gated run of the stream⋈stream interval join
    * ([[graft.streaming.EventStream.clickErrorJoin]]). Inner interval
    * joins emit every match as both sides arrive — the watermark only
    * bounds buffered state — so once the source drains, the sink holds
    * exactly the batch join's rows and the oracle needs no sealed
    * cutoff. */
  private def streamJoin(s: SparkSession, d: String) = {
    import s.implicits._
    runStream(s, graft.streaming.EventStream.clickErrorJoin(
        streamingEvents(s, d)), "graft_stream_join", "append")
      .orderBy($"error_id", $"click_id")
  }

  /** Oracle-gated LEFT OUTER stream⋈stream join: matched rows equal
    * the inner join; the null-padded unmatched errors appear only for
    * errors the FINAL watermark sealed (the no-data closing batch
    * flushes expired state). The seal bound is `error_ts < watermark`:
    * Spark derives a state watermark from EACH join inequality and
    * keeps state only while a future match is possible — here the
    * UPPER bound `click_ts ≤ error_ts` already rules out any
    * future click once `error_ts < watermark`, so that is the tight
    * (and actual) eviction predicate; the lower bound's laxer
    * `watermark − 10 min` never governs. The governing watermark is
    * the GLOBAL one, and because each side is filtered to its type
    * BEFORE `withWatermark`, it is the MIN of the per-type watermarks:
    * `min(max click ts, max error ts) − 2 h` (each ms-floored) — the
    * default `multipleWatermarkPolicy = min`. (Round-10 fix: the
    * oracle previously sealed at `all-events watermark − 10 min`,
    * which happened to agree at sf0.01 but both missed an emitted
    * boundary error at sf0.1 and, once the −10 min lax bound was
    * dropped, over-emitted at sf0.01 — the per-side-min form matches
    * Spark on both corpora.) Predicate evaluated in µs, mirroring
    * Spark's ms arithmetic. */
  private def streamJoinOuter(s: SparkSession, d: String) = {
    import s.implicits._
    runStream(s, graft.streaming.EventStream.clickErrorJoinOuter(
        streamingEvents(s, d)), "graft_stream_join_outer", "append")
      .orderBy($"error_id", $"click_id")
  }

  /** Oracle-gated run of the streaming CDC materialized view
    * ([[graft.streaming.EventStream.latestPerKey]]) against the batch
    * `cdc_upsert` oracle: replaying the whole changelog through the
    * keyed-state stream converges to the batch compaction. The memory
    * sink cannot upsert (update mode APPENDS each trigger's changed
    * rows), so the wrapper folds the sink to each key's final state —
    * the row with the greatest version count, exactly what a real
    * upsert sink (Delta MERGE / JDBC upsert) would retain. */
  private def streamCdc(s: SparkSession, d: String) = {
    import s.implicits._
    val sink = runStream(s, graft.streaming.EventStream.latestPerKey(
        streamingEvents(s, d).as[graft.streaming.EventStream.Event]).toDF(),
      "graft_stream_cdc", "update")
    sink.groupBy($"_1")
      .agg(expr("max_by(_2, _2.n_versions)").as("last"))
      .select($"_1".as("user_id"), $"last.ts".as("last_ts"),
        $"last.event_id".as("last_event_id"),
        $"last.event_type".as("last_type"),
        $"last.value".as("last_value"),
        $"last.n_versions".as("n_versions"))
      .orderBy($"user_id")
  }

  /** Run `body` with the RocksDB state-store provider pinned (the only
    * provider implementing transformWithState's state encoding),
    * restoring the previous provider after. */
  private def withRocksDb[T](s: SparkSession)(body: => T): T =
    SmallData.withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )(body)

  /** Oracle-gated run of the `transformWithState` CDC processor
    * ([[graft.streaming.EventStream.latestPerKeyTws]]) — Spark 4's
    * arbitrary-stateful-processing API through the same DuckDB gate as
    * the `mapGroupsWithState` form (`stream_cdc`): identical survivor
    * order, identical oracle. The RocksDB state-store provider is
    * pinned for the query (the only provider implementing the new
    * API's state encoding) and restored after. */
  private def streamCdcTws(s: SparkSession, d: String) = {
    import s.implicits._
    val sink = withRocksDb(s) {
      runStream(s, graft.streaming.EventStream.latestPerKeyTws(
          streamingEvents(s, d).as[graft.streaming.EventStream.Event]).toDF(),
        "graft_stream_cdc_tws", "update")
    }
    sink.groupBy($"_1")
      .agg(expr("max_by(_2, _2.n_versions)").as("last"))
      .select($"_1".as("user_id"), $"last.ts".as("last_ts"),
        $"last.event_id".as("last_event_id"),
        $"last.event_type".as("last_type"),
        $"last.value".as("last_value"),
        $"last.n_versions".as("n_versions"))
      .orderBy($"user_id")
  }

  /** Oracle-gated run of the event-time-timeout sessionizer
    * ([[graft.streaming.EventStream.timeoutSessions]]) — custom
    * `flatMapGroupsWithState` state through the same DuckDB gate as
    * the built-in window. Sessions merge at exactly-gap spacing (the
    * batch op's convention, unlike `session_window`), `session_end` is
    * the LAST EVENT time (no +gap), and a run is emitted once
    * `end + gap` falls strictly below the ms-floored watermark —
    * whether via the per-batch seal check or the state timeout, which
    * fire under the same horizon. */
  private def streamSessionsTimeout(s: SparkSession, d: String) = {
    import s.implicits._
    runStream(s, graft.streaming.EventStream.timeoutSessions(
        streamingEvents(s, d).as[graft.streaming.EventStream.Event]).toDF(),
      "graft_stream_sessions_to", "append")
      .orderBy($"user_id", $"session_start")
  }

  /** Oracle-gated run of the timer-based `transformWithState`
    * sessionizer ([[graft.streaming.EventStream.sessionsTws]]) — same
    * emission contract as [[streamSessionsTimeout]] (they share one
    * oracle), with the gap timeout expressed as a registered
    * event-time TIMER on the new API instead of GroupStateTimeout. */
  private def streamSessionsTws(s: SparkSession, d: String) = {
    import s.implicits._
    withRocksDb(s) {
      runStream(s, graft.streaming.EventStream.sessionsTws(
          streamingEvents(s, d).as[graft.streaming.EventStream.Event]).toDF(),
        "graft_stream_sessions_tws", "append")
    }.orderBy($"user_id", $"session_start")
  }

  /** Oracle-gated run of the TTL-bounded first-seen dedup
    * ([[graft.streaming.EventStream.firstSeenTtl]]): each (user, type)
    * key's first event by (ts, event_id), with the dedup window
    * declared as a per-variable state TTL. The 24 h processing-time
    * TTL cannot expire inside a drained AvailableNow run, so the
    * result equals global first-seen — which is what the oracle
    * states; the TTL is the production bounded-state knob, not an
    * observable of this run. */
  private def streamFirstSeenTtl(s: SparkSession, d: String) = {
    import s.implicits._
    // ProcessingTime time mode (required by TTL) re-triggers no-data
    // batches forever under AvailableNow — disable them for the drain;
    // an always-on deployment keeps them (they fire TTL eviction)
    val sink = SmallData.withConf(s,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      withRocksDb(s) {
        runStream(s, graft.streaming.EventStream.firstSeenTtl(
            streamingEvents(s, d).as[graft.streaming.EventStream.Event]).toDF(),
          "graft_stream_first_seen", "append")
      }
    }
    sink.select($"_1".as("user_id"), $"_2".as("event_type"),
        $"_3".as("first_ts"), $"_4".as("first_event_id"),
        $"_5".as("first_value"))
      .orderBy($"user_id", $"event_type")
  }

  /** Oracle-gated run of the MapState per-user type matrix
    * ([[graft.streaming.EventStream.typeMatrix]]): update mode
    * re-emits changed entries per trigger and the counts are monotone,
    * so the max per (user, type) in the sink is the final matrix —
    * compared against the plain batch GROUP BY. */
  private def streamTypeMatrix(s: SparkSession, d: String) = {
    import s.implicits._
    withRocksDb(s) {
      runStream(s, graft.streaming.EventStream.typeMatrix(
          streamingEvents(s, d).as[graft.streaming.EventStream.Event]).toDF(),
        "graft_stream_type_matrix", "update")
    }.groupBy($"_1", $"_2")
      .agg(max($"_3").as("n_events"))
      .select($"_1".as("user_id"), $"_2".as("event_type"), $"n_events")
      .orderBy($"user_id", $"event_type")
  }

  /** Shared oracle for the two custom-state sessionizers (old and new
    * API): gaps-and-islands at the batch op's exactly-gap merge
    * convention, sealed strictly below the ms-floored watermark. */
  private def timeoutSessionsOracle: String =
    s"""WITH $wmCte,
       |marked AS (
       |  SELECT user_id, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
       |),
       |sess AS (
       |  SELECT user_id, ts,
       |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM marked
       |)
       |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       |  COUNT(*) AS n_events
       |FROM sess GROUP BY user_id, sid
       |HAVING epoch_us(MAX(ts)) + 1800000000 < (SELECT w_us FROM wm)
       |ORDER BY user_id, session_start""".stripMargin

  /** ms-floored watermark horizon: Spark floors the max event time to
    * millis before subtracting the delay, so sealed-predicate oracles
    * must apply the same floor or boundary sessions flip sides. */
  private def wmCte: String =
    "wm AS (SELECT ((epoch_us(MAX(ts)) // 1000) - 7200000) * 1000 AS w_us FROM events)"

  /** Oracle-gated run of the sliding-window twin
    * ([[graft.streaming.EventStream.slidingCounts]]); append mode,
    * same sealed-window contract as [[streamQuantiles]] — the oracle
    * keeps only windows whose end clears the ms-floored watermark. */
  private def streamSliding(s: SparkSession, d: String) = {
    import s.implicits._
    runStream(s, graft.streaming.EventStream.slidingCounts(
        streamingEvents(s, d)), "graft_stream_sliding", "append")
      .orderBy($"win_start", $"event_type")
  }

  /** Audience-overlap matrix — for every unordered pair of event
    * types, how many users did BOTH, with the Jaccard overlap of the
    * two audiences. The cross-sell / feature-co-occurrence query every
    * product-analytics surface ships.
    *
    * Scale: distinct (user, type) first (one keyed shuffle, map-side
    * combined — the table shrinks to ≤ users × |types| rows), then a
    * SELF-join on user_id expands each user to their own type-pairs
    * only (≤ |types|² rows per user, co-partitioned on the join key —
    * no broadcast of anything data-sized, no all-pairs across users),
    * and the pair counts aggregate map-side. Per-type audience sizes
    * ride the same distinct table; the |types|-row result joins as a
    * broadcast for the Jaccard denominator. Jaccard is the only
    * float: exact integer counts divided once, half-up 6 dp. */
  private def eventsOverlap(s: SparkSession, d: String) = {
    import s.implicits._
    val ut = Tables.events(s, d)
      .select($"user_id", $"event_type").distinct().cache()
    val sizes = ut.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val pairs = ut.as("x").join(ut.as("y"), "user_id")
      .filter($"x.event_type" < $"y.event_type")
      .groupBy($"x.event_type".as("type_a"), $"y.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(sizes.select($"event_type".as("type_a"), $"n".as("n_a"))), "type_a")
      .join(broadcast(sizes.select($"event_type".as("type_b"), $"n".as("n_b"))), "type_b")
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
        roundHalfUp($"n_both" / ($"n_a" + $"n_b" - $"n_both"), 6)
          .as("jaccard"))
      .orderBy($"type_a", $"type_b")
  }

  private def overlapOracle: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |),
      |sizes AS (
      |  SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1
      |),
      |pairs AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM ut x JOIN ut y ON x.user_id = y.user_id
      |    AND x.event_type < y.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT p.type_a, p.type_b, a.n AS n_a, b.n AS n_b, p.n_both,
      |  CAST(FLOOR(1.0 * p.n_both / (a.n + b.n - p.n_both) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS jaccard
      |FROM pairs p
      |JOIN sizes a ON a.event_type = p.type_a
      |JOIN sizes b ON b.event_type = p.type_b
      |ORDER BY p.type_a, p.type_b""".stripMargin

  /** Hourly OHLC bars per event type — the downsampling shape metric
    * stores and trading systems use: first/last (by event time, id
    * tie-break) plus min/max of `value` per (type, hour), with the
    * exact-decimal turnover alongside. Complements [[timeseriesFill]]
    * (which fills the spine) by compressing the within-bucket shape.
    *
    * Scale: the two row_number windows and the final aggregate all key
    * on (event_type, hour) — Catalyst reuses ONE exchange for all
    * three, so the whole query is a single data-sized shuffle; open /
    * close picks and min/max combine per bucket, output is
    * bucket-sized. Open/close are PICKED doubles (no summation) and
    * the turnover sums exactly, so every column is bit-reproducible
    * under any partitioning. */
  private def timeseriesOhlc(s: SparkSession, d: String) = {
    import s.implicits._
    val keyed = Tables.events(s, d)
      .select($"event_type", date_trunc("hour", $"ts").as("hour"),
        $"ts", $"event_id", $"value")
    val wAsc = Window.partitionBy($"event_type", $"hour")
      .orderBy($"ts".asc, $"event_id".asc)
    val wDesc = Window.partitionBy($"event_type", $"hour")
      .orderBy($"ts".desc, $"event_id".desc)
    keyed
      .withColumn("ra", row_number().over(wAsc))
      .withColumn("rd", row_number().over(wDesc))
      .groupBy($"event_type", $"hour")
      .agg(
        max(when($"ra" === 1, $"value")).as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max(when($"rd" === 1, $"value")).as("close"),
        count(lit(1)).as("n_events"),
        roundHalfUp(sumExact($"value"), 6).as("turnover"))
      .orderBy($"event_type", $"hour")
  }

  private def ohlcOracle: String =
    """WITH ranked AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |      ORDER BY ts ASC, event_id ASC) AS ra,
      |    ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rd
      |  FROM events
      |)
      |SELECT event_type, hour,
      |  MAX(CASE WHEN ra = 1 THEN value END) AS open,
      |  MAX(value) AS high,
      |  MIN(value) AS low,
      |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
      |  COUNT(*) AS n_events,
      |  CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
      |    * 1000000 + 0.5) AS DOUBLE) / 1000000 AS turnover
      |FROM ranked
      |GROUP BY event_type, hour
      |ORDER BY event_type, hour""".stripMargin

  /** Seasonality profile: event volume by (event_type, ISO day-of-week,
    * hour-of-day) with each cell's share of its type's total — the
    * "when does this event happen" heatmap that sizes every
    * time-partitioned downstream job (batch windows, on-call load,
    * anomaly baselines).
    *
    * Scale: one map-side-combined hash aggregate on the (type, dow,
    * hour) key — at most |types|×168 cells regardless of N — plus a
    * window over those CELLS only for the share. Hour/weekday extract
    * row-local in codegen; session TZ is pinned UTC so both engines
    * bucket identically. ISO dow = Spark `weekday()+1` = DuckDB
    * `isodow()` (1 = Monday … 7 = Sunday). */
  private def eventsSeasonality(s: SparkSession, d: String) = {
    import s.implicits._
    val cells = Tables.events(s, d)
      .select($"event_type",
        (expr("weekday(ts)") + 1).cast("int").as("isodow"),
        hour($"ts").cast("int").as("hod"),
        $"value")
      .groupBy($"event_type", $"isodow", $"hod")
      .agg(count(lit(1)).as("n_events"), sumExact($"value").as("total_value"))
    val wt = Window.partitionBy($"event_type")
    cells
      .withColumn("share",
        roundHalfUp(lit(1.0) * $"n_events" / sum($"n_events").over(wt), 6))
      .orderBy($"event_type", $"isodow", $"hod")
  }

  private def seasonalityOracle: String =
    s"""WITH cells AS (
       |  SELECT event_type,
       |    CAST(isodow(ts) AS INT) AS isodow,
       |    CAST(hour(ts) AS INT) AS hod,
       |    COUNT(*) AS n_events,
       |    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
       |  FROM events
       |  GROUP BY 1, 2, 3
       |)
       |SELECT event_type, isodow, hod, n_events, total_value,
       |  ${roundHalfUpSql(
      "1.0 * n_events / SUM(n_events) OVER (PARTITION BY event_type)", 6)}
       |    AS share
       |FROM cells
       |ORDER BY event_type, isodow, hod""".stripMargin

  /** Peak concurrency per day over gap-based sessions — the classic
    * interval-sweep: every session contributes +1 at its (clipped)
    * start and -1 at its (clipped) end, and the day's peak is the max
    * of the running sum. Sessions spanning midnight are split across
    * their days (explode day INDEXES, clip to [day, next midnight)),
    * so the sweep partitions cleanly by day.
    *
    * Scale: sessionization is the engine's standard per-user window;
    * the sweep is one shuffle keyed on DAY with an in-partition sort
    * of that day's ±1 deltas — never a global sort. Tie rule: at equal
    * timestamps starts sort before ends (delta DESC), so touching
    * intervals count as overlapping and the sum never dips negative;
    * (user_id, session_id) breaks remaining ties deterministically in
    * both engines. */
  private def eventsConcurrency(s: SparkSession, d: String) =
    concurrencyOf(Tables.events(s, d))

  private[graft] def concurrencyOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = events
      .select($"user_id", $"event_id", $"ts")
      .withColumn("is_new",
        when(lag($"ts", 1).over(w).isNull ||
          unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) >
            SessionGapMicros, 1).otherwise(0))
      .withColumn("session_id", sum($"is_new").over(run).cast("long"))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("s_start"), max($"ts").as("s_end"))
    val clipped = sessions
      .withColumn("i", explode(expr(
        "sequence(0, datediff(to_date(s_end), to_date(s_start)))")))
      .withColumn("day", expr("date_add(to_date(s_start), i)"))
      .select($"user_id", $"session_id", $"day",
        greatest($"s_start", $"day".cast("timestamp")).as("c_start"),
        least($"s_end", expr("date_add(day, 1)").cast("timestamp")).as("c_end"))
    val deltas = clipped
      .select($"day", $"c_start".as("t"), lit(1).as("delta"),
        $"user_id", $"session_id")
      .unionByName(clipped.select($"day", $"c_end".as("t"),
        lit(-1).as("delta"), $"user_id", $"session_id"))
    val sweep = Window.partitionBy($"day")
      .orderBy($"t".asc, $"delta".desc, $"user_id".asc, $"session_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("load", sum($"delta").over(sweep))
      .groupBy($"day")
      .agg(max($"load").cast("long").as("peak_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_sessions"))
      .orderBy($"day")
  }

  private def concurrencyOracle: String =
    s"""WITH marked AS (
       |  SELECT user_id, event_id, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SessionGapMicros
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
       |),
       |sess AS (
       |  SELECT user_id,
       |    CAST(SUM(is_new) OVER (PARTITION BY user_id
       |      ORDER BY ts ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id,
       |    ts
       |  FROM marked
       |),
       |spans AS (
       |  SELECT user_id, session_id, MIN(ts) AS s_start, MAX(ts) AS s_end
       |  FROM sess GROUP BY user_id, session_id
       |),
       |offs AS (
       |  SELECT user_id, session_id, s_start, s_end,
       |    unnest(range(0, datediff('day', CAST(s_start AS DATE),
       |      CAST(s_end AS DATE)) + 1)) AS k
       |  FROM spans
       |),
       |clipped AS (
       |  SELECT user_id, session_id,
       |    CAST(s_start AS DATE) + CAST(k AS INT) AS day,
       |    GREATEST(s_start, CAST(CAST(s_start AS DATE) + CAST(k AS INT)
       |      AS TIMESTAMP)) AS c_start,
       |    LEAST(s_end, CAST(CAST(s_start AS DATE) + CAST(k AS INT) + 1
       |      AS TIMESTAMP)) AS c_end
       |  FROM offs
       |),
       |deltas AS (
       |  SELECT day, c_start AS t, 1 AS delta, user_id, session_id FROM clipped
       |  UNION ALL
       |  SELECT day, c_end, -1, user_id, session_id FROM clipped
       |),
       |swept AS (
       |  SELECT day,
       |    SUM(delta) OVER (PARTITION BY day
       |      ORDER BY t ASC, delta DESC, user_id ASC, session_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
       |  FROM deltas
       |)
       |SELECT day, CAST(MAX(load) AS BIGINT) AS peak_concurrent,
       |  CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions
       |FROM swept
       |GROUP BY day
       |ORDER BY day""".stripMargin

  /** Seasonal-naive forecast baseline: per (event_type, day) the
    * actual daily event count vs the count 7 days earlier (lag-7 over
    * a DENSE per-type calendar, absent days = 0), with the absolute
    * error — the baseline every real forecasting model must beat, and
    * the cheapest drift alarm (sustained large errors = regime
    * change).
    *
    * Scale: the daily rollup is one map-side-combined aggregate to
    * |types|×|days| rows; the dense calendar explodes day INDEXES off
    * a 1-row-per-type span table; the lag runs over those daily rows
    * only (per-type partitions), never over raw events. */
  private def eventsForecast(s: SparkSession, d: String) = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
    val dense = daily.groupBy($"event_type")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .withColumn("i", explode(expr("sequence(0, datediff(d1, d0))")))
      .select($"event_type", expr("date_add(d0, i)").as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("n_events", coalesce($"n", lit(0L)))
    val wt = Window.partitionBy($"event_type").orderBy($"day".asc)
    dense
      .withColumn("forecast", lag($"n_events", 7).over(wt))
      .filter($"forecast".isNotNull)
      .select($"event_type", $"day", $"n_events", $"forecast",
        abs($"n_events" - $"forecast").as("abs_err"))
      .orderBy($"event_type", $"day")
  }

  private def forecastOracle: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2
       |),
       |span AS (
       |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
       |  FROM daily GROUP BY event_type
       |),
       |cal AS (
       |  SELECT event_type, d0,
       |    unnest(range(0, datediff('day', d0, d1) + 1)) AS k
       |  FROM span
       |),
       |dense AS (
       |  SELECT c.event_type, c.d0 + CAST(c.k AS INT) AS day,
       |    COALESCE(d.n, 0) AS n_events
       |  FROM cal c
       |  LEFT JOIN daily d
       |    ON d.event_type = c.event_type AND d.day = c.d0 + CAST(c.k AS INT)
       |),
       |lagged AS (
       |  SELECT event_type, day, n_events,
       |    lag(n_events, 7) OVER (PARTITION BY event_type ORDER BY day ASC)
       |      AS forecast
       |  FROM dense
       |)
       |SELECT event_type, day, n_events, forecast,
       |  abs(n_events - forecast) AS abs_err
       |FROM lagged
       |WHERE forecast IS NOT NULL
       |ORDER BY event_type, day""".stripMargin

  /** A/B experiment readout: users split into two arms by a salted
    * content hash (deterministic, uniform, reproducible across runs —
    * the same idiom as `sample_hash`; a real pipeline hashes the
    * experiment id into the salt), then per event type the two arms'
    * conversion rates (distinct converting users / arm size), the
    * relative lift, and the two-proportion z statistic.
    *
    * Scale: arm assignment is a row-local hash; both aggregates are
    * map-side-combined distinct-counts keyed by (type, arm) — the
    * shuffle carries (type, arm, user) triples pre-deduplicated per
    * partition. The z arithmetic runs over |types| ROWS on exact
    * integer counts, quantized to 6 dp, so both engines emit identical
    * doubles. */
  private def eventsAbtest(s: SparkSession, d: String) = {
    import s.implicits._
    val armed = Tables.events(s, d)
      .select($"user_id", $"event_type",
        when(hash60(concat(lit("ab:"), $"user_id")) % 2 === 0, "A")
          .otherwise("B").as("arm"))
    val arms = armed.select($"user_id", $"arm").distinct()
      .groupBy($"arm").agg(count(lit(1)).as("n_users"))
    val sizes = arms.groupBy().agg(
      max(when($"arm" === "A", $"n_users")).as("n_a"),
      max(when($"arm" === "B", $"n_users")).as("n_b"))
    val conv = armed.select($"event_type", $"arm", $"user_id").distinct()
      .groupBy($"event_type").agg(
        sum(when($"arm" === "A", 1L).otherwise(0L)).as("conv_a"),
        sum(when($"arm" === "B", 1L).otherwise(0L)).as("conv_b"))
    val pa = $"conv_a" / $"n_a"
    val pb = $"conv_b" / $"n_b"
    val pooled = ($"conv_a" + $"conv_b") / ($"n_a" + $"n_b")
    conv.crossJoin(broadcast(sizes))
      .select($"event_type", $"n_a", $"n_b", $"conv_a", $"conv_b",
        roundHalfUp(pa, 6).as("rate_a"),
        roundHalfUp(pb, 6).as("rate_b"),
        roundHalfUp(pb / nullif(pa, lit(0.0)) - 1.0, 6).as("lift"),
        // NULL when pooled conversion is 0 or 1 (zero variance — e.g. a
        // type every user fires): z is undefined there in BOTH engines
        roundHalfUp((pb - pa) /
          nullif(sqrt(pooled * (lit(1.0) - pooled) *
            (lit(1.0) / $"n_a" + lit(1.0) / $"n_b")), lit(0.0)), 6).as("z"))
      .orderBy($"event_type")
  }

  private def abtestOracle: String = {
    val pa = "(1.0 * c.conv_a / s.n_a)"
    val pb = "(1.0 * c.conv_b / s.n_b)"
    val pooled = "(1.0 * (c.conv_a + c.conv_b) / (s.n_a + s.n_b))"
    s"""WITH armed AS (
       |  SELECT user_id, event_type,
       |    CASE WHEN ${hash60Sql("'ab:' || user_id")} % 2 = 0
       |         THEN 'A' ELSE 'B' END AS arm
       |  FROM events
       |),
       |sizes AS (
       |  SELECT
       |    COUNT(DISTINCT CASE WHEN arm = 'A' THEN user_id END) AS n_a,
       |    COUNT(DISTINCT CASE WHEN arm = 'B' THEN user_id END) AS n_b
       |  FROM armed
       |),
       |conv AS (
       |  SELECT event_type,
       |    COUNT(DISTINCT CASE WHEN arm = 'A' THEN user_id END) AS conv_a,
       |    COUNT(DISTINCT CASE WHEN arm = 'B' THEN user_id END) AS conv_b
       |  FROM armed GROUP BY event_type
       |)
       |SELECT c.event_type, s.n_a, s.n_b, c.conv_a, c.conv_b,
       |  ${roundHalfUpSql(pa, 6)} AS rate_a,
       |  ${roundHalfUpSql(pb, 6)} AS rate_b,
       |  ${roundHalfUpSql(s"$pb / NULLIF($pa, 0.0) - 1.0", 6)} AS lift,
       |  ${roundHalfUpSql(
      s"($pb - $pa) / NULLIF(sqrt($pooled * (1.0 - $pooled) * (1.0 / s.n_a + 1.0 / s.n_b)), 0.0)",
      6)} AS z
       |FROM conv c CROSS JOIN sizes s
       |ORDER BY c.event_type""".stripMargin
  }

  val defs: Seq[OpDef] = Seq(
    OpDef("events_abtest", eventsAbtest _, abtestOracle),
    OpDef("events_seasonality", eventsSeasonality _, seasonalityOracle),
    OpDef("events_concurrency", eventsConcurrency _, concurrencyOracle),
    OpDef("events_forecast", eventsForecast _, forecastOracle),
    OpDef("events_overlap", eventsOverlap _, overlapOracle),
    OpDef("timeseries_ohlc", timeseriesOhlc _, ohlcOracle),
    OpDef("events_pmi", eventsPmi _, pmiOracle),
    OpDef("events_dau_mau", eventsDauMau _, dauMauOracle),
    OpDef("events_rfm", eventsRfm _, rfmOracle),
    OpDef("stream_sessions", streamSessions _,
      s"""WITH $wmCte,
         |marked AS (
         |  SELECT user_id, ts,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         |),
         |sess AS (
         |  SELECT user_id, ts,
         |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM marked
         |)
         |SELECT user_id, MIN(ts) AS session_start,
         |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         |  COUNT(*) AS n_events
         |FROM sess GROUP BY user_id, sid
         |HAVING epoch_us(MAX(ts)) + 1800000000 <= (SELECT w_us FROM wm)
         |ORDER BY user_id, session_start""".stripMargin),
    OpDef("stream_join", streamJoin _,
      """SELECT e.user_id, e.event_id AS error_id, e.ts AS error_ts,
        |  c.event_id AS click_id, c.ts AS click_ts
        |FROM events e JOIN events c
        |  ON c.user_id = e.user_id
        | AND e.event_type = 'error' AND c.event_type = 'click'
        | AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts <= e.ts
        |ORDER BY error_id, click_id""".stripMargin),
    OpDef("stream_join_outer", streamJoinOuter _,
      s"""WITH wm AS (
        |  SELECT LEAST(
        |    (SELECT ((epoch_us(MAX(ts)) // 1000) - 7200000) * 1000
        |     FROM events WHERE event_type = 'click'),
        |    (SELECT ((epoch_us(MAX(ts)) // 1000) - 7200000) * 1000
        |     FROM events WHERE event_type = 'error')) AS w_us
        |),
        |matched AS (
        |  SELECT e.user_id, e.event_id AS error_id, e.ts AS error_ts,
        |    c.event_id AS click_id, c.ts AS click_ts
        |  FROM events e JOIN events c
        |    ON c.user_id = e.user_id
        |   AND e.event_type = 'error' AND c.event_type = 'click'
        |   AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts <= e.ts
        |)
        |SELECT user_id, error_id, error_ts, click_id, click_ts FROM matched
        |UNION ALL
        |SELECT e.user_id, e.event_id, e.ts,
        |  CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
        |FROM events e CROSS JOIN wm
        |WHERE e.event_type = 'error'
        |  AND epoch_us(e.ts) < wm.w_us
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events c
        |    WHERE c.user_id = e.user_id AND c.event_type = 'click'
        |      AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts <= e.ts)
        |ORDER BY error_id, click_id""".stripMargin),
    OpDef("stream_cdc", streamCdc _,
      """WITH versioned AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events
        |)
        |SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |  event_type AS last_type, value AS last_value, n_versions
        |FROM versioned WHERE rn = 1
        |ORDER BY user_id""".stripMargin),
    OpDef("stream_cdc_tws", streamCdcTws _,
      """WITH versioned AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events
        |)
        |SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |  event_type AS last_type, value AS last_value, n_versions
        |FROM versioned WHERE rn = 1
        |ORDER BY user_id""".stripMargin),
    OpDef("stream_sessions_timeout", streamSessionsTimeout _,
      timeoutSessionsOracle),
    OpDef("stream_sessions_tws", streamSessionsTws _, timeoutSessionsOracle),
    OpDef("stream_first_seen_ttl", streamFirstSeenTtl _,
      """SELECT user_id, event_type, ts AS first_ts,
        |  event_id AS first_event_id, value AS first_value
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events
        |)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin),
    OpDef("stream_type_matrix", streamTypeMatrix _,
      """SELECT user_id, event_type, COUNT(*) AS n_events
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),
    OpDef("stream_sliding", streamSliding _,
      s"""WITH $wmCte
         |SELECT time_bucket(INTERVAL '15 minutes', ts)
         |    - k.k * INTERVAL '15 minutes' AS win_start,
         |  event_type, COUNT(*) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
         |FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k)
         |GROUP BY 1, 2
         |HAVING epoch_us(win_start + INTERVAL 1 HOUR) <= (SELECT w_us FROM wm)
         |ORDER BY win_start, event_type""".stripMargin),
    OpDef("stream_semantic", streamSemantic _,
      Similarity.streamSemanticOracle),
    OpDef("stream_contamination", streamContamination _,
      Corpus.contaminationOracle),
    OpDef("stream_quality_gate", streamQualityGate _,
      s"""WITH clf0 AS (${Curation.qualityClassifierOracle}),
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT s.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN c.keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_keep,
         |  ${roundHalfUpSql(
              "CAST(SUM(CAST(c.score AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)",
              6)} AS mean_score,
         |  ${roundHalfUpSql(
              "1.0 * SUM(CASE WHEN c.keep THEN 1 ELSE 0 END) / COUNT(*)",
              6)} AS keep_rate
         |FROM clf0 c JOIN src s ON s.doc_id = c.doc_id
         |GROUP BY s.source
         |ORDER BY s.source""".stripMargin),
    OpDef("stream_dedup", streamDedup _,
      """SELECT DISTINCT user_id, event_type, ts
        |FROM events
        |ORDER BY user_id, event_type, ts""".stripMargin),
    OpDef("stream_tumbling", streamTumbling _,
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin),
    OpDef("stream_dp_counts", streamDpCounts _, {
      val uExpr = s"((${hash60Sql(
        "'sdp:' || CAST(hour_start AS VARCHAR) || '|' || event_type")}" +
        " % 2000001 - 1000000) / 1000001.0)"
      s"""WITH agg AS (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
         |    event_type, COUNT(*) AS n_events
         |  FROM events GROUP BY 1, 2
         |)
         |SELECT hour_start, event_type,
         |  ${graft.functions.Exact.roundHalfUpSql(
          s"n_events - (1.0 / 1.0) * SIGN($uExpr) * ln(1.0 - ABS($uExpr))",
          6)} AS noisy_count,
         |  CAST(1.0 AS DOUBLE) AS epsilon,
         |  CAST(1 AS BIGINT) AS sensitivity,
         |  '${Curation.NoiseModel}' AS noise_model
         |FROM agg
         |ORDER BY hour_start, event_type""".stripMargin
    }),
    OpDef("stream_quantiles", streamQuantiles _,
      """WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events),
        |b AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        |    CAST(FLOOR(value / 1.0) AS BIGINT) AS bucket, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3
        |),
        |t AS (
        |  SELECT hour_start, event_type, bucket, cnt,
        |    SUM(cnt) OVER (PARTITION BY hour_start, event_type) AS n,
        |    SUM(cnt) OVER (PARTITION BY hour_start, event_type
        |                   ORDER BY bucket) AS cum
        |  FROM b
        |)
        |SELECT hour_start, event_type, CAST(MAX(n) AS BIGINT) AS n_events,
        |  CAST(MIN(CASE WHEN cum >= GREATEST(1, CAST(CEIL(0.01 * n) AS BIGINT))
        |           THEN bucket END) AS DOUBLE) * 1.0 AS p01_lo,
        |  CAST(MIN(CASE WHEN cum >= GREATEST(1, CAST(CEIL(0.99 * n) AS BIGINT))
        |           THEN bucket END) AS DOUBLE) * 1.0 AS p99_lo
        |FROM t
        |WHERE hour_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin),
    OpDef("stream_key_skew", streamKeySkew _,
      s"""WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events),
         |kw AS (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
         |    user_id, COUNT(*) AS w
         |  FROM events GROUP BY 1, 2
         |)
         |SELECT hour_start, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(w) AS BIGINT) AS max_width,
         |  CAST(SUM(w) AS BIGINT) AS n_events,
         |  ${roundHalfUpSql("1.0 * MAX(w) * COUNT(*) / SUM(w)", 6)} AS skew_ratio
         |FROM kw
         |WHERE hour_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
         |GROUP BY 1
         |ORDER BY hour_start""".stripMargin),
    OpDef("events_winsorize", eventsWinsorize _,
      """WITH pct AS (
        |  SELECT event_type,
        |    CAST(FLOOR(quantile_cont(value, 0.01) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS lo,
        |    CAST(FLOOR(quantile_cont(value, 0.99) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS hi
        |  FROM events GROUP BY event_type
        |),
        |capped AS (
        |  SELECT e.event_type,
        |    GREATEST(p.lo, LEAST(p.hi, e.value)) AS v,
        |    CASE WHEN e.value < p.lo THEN 1 ELSE 0 END AS cl,
        |    CASE WHEN e.value > p.hi THEN 1 ELSE 0 END AS ch
        |  FROM events e JOIN pct p ON e.event_type = p.event_type
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(cl) AS BIGINT) AS n_capped_low,
        |  CAST(SUM(ch) AS BIGINT) AS n_capped_high,
        |  CAST(FLOOR((CAST(SUM(CAST(v AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS capped_mean
        |FROM capped GROUP BY event_type
        |ORDER BY event_type""".stripMargin),
    OpDef("timeseries_fill", timeseriesFill _,
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2
        |),
        |bounds AS (
        |  SELECT date_trunc('hour', MIN(ts)) AS lo,
        |    date_trunc('hour', MAX(ts)) AS hi
        |  FROM events
        |),
        |spine AS (
        |  SELECT g.hour, t.event_type
        |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |        FROM bounds) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        |)
        |SELECT s.event_type, s.hour,
        |  COALESCE(h.n, 0) AS n_events,
        |  CAST(FLOOR(last_value(h.v IGNORE NULLS) OVER (
        |    PARTITION BY s.event_type ORDER BY s.hour ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 + 0.5) AS DOUBLE) / 1000000
        |    AS filled_value
        |FROM spine s LEFT JOIN hourly h
        |  ON s.hour = h.hour AND s.event_type = h.event_type
        |ORDER BY s.event_type, s.hour""".stripMargin),
    OpDef("scd2_intervals", scd2Intervals _,
      """WITH marked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
        |  FROM events
        |),
        |changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM marked
        |  WHERE prev_type IS NULL OR prev_type <> event_type
        |)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM changes
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY user_id, valid_from, event_type""".stripMargin),
    OpDef("scd2_incremental", scd2Incremental _,
      """WITH marked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
        |  FROM events
        |),
        |changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM marked
        |  WHERE prev_type IS NULL OR prev_type <> event_type
        |)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM changes
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY user_id, valid_from, event_type""".stripMargin),
    OpDef("events_anomaly", eventsAnomaly _,
      """WITH s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type
        |),
        |st AS (
        |  SELECT event_type, sx / n AS mu,
        |    sqrt((sxx - sx * sx / n) / NULLIF(n - 1, 0)) AS sigma
        |  FROM s
        |)
        |SELECT e.event_type, e.event_id,
        |  CAST(FLOOR(e.value * 1000000 + 0.5) AS DOUBLE) / 1000000 AS value,
        |  CAST(FLOOR(((e.value - t.mu) / NULLIF(t.sigma, 0)) * 10000 + 0.5) AS DOUBLE) / 10000 AS zscore
        |FROM events e JOIN st t ON e.event_type = t.event_type
        |WHERE abs(e.value - t.mu) > 3 * t.sigma
        |ORDER BY e.event_type, e.event_id""".stripMargin),
    OpDef("customer_survival", customerSurvival _, survivalOracle),
    OpDef("events_retention", eventsRetention _,
      """WITH ev AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events
        |),
        |cohorts AS (
        |  SELECT user_id, MIN(wk) AS cohort_week FROM ev GROUP BY user_id
        |)
        |SELECT c.cohort_week,
        |  CAST(date_diff('day', c.cohort_week, e.wk) / 7 AS BIGINT) AS week_offset,
        |  COUNT(*) AS n_active_users
        |FROM ev e JOIN cohorts c ON e.user_id = c.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin),
    OpDef("events_paths", eventsPaths _, pathsOracle),
    OpDef("events_funnel_latency", eventsFunnelLatency _, funnelLatencyOracle),
    OpDef("events_funnel", eventsFunnel _,
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events
        |),
        |v AS (
        |  SELECT user_id, MIN(tsu) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id
        |),
        |c AS (
        |  SELECT e.user_id, MIN(e.tsu) AS t2
        |  FROM ev e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.tsu > v.t1
        |  GROUP BY e.user_id
        |),
        |p AS (
        |  SELECT e.user_id, MIN(e.tsu) AS t3
        |  FROM ev e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.tsu > c.t2
        |  GROUP BY e.user_id
        |)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type, COUNT(*) AS n_users FROM v
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', COUNT(*) FROM c
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', COUNT(*) FROM p
        |ORDER BY stage""".stripMargin),
    OpDef("join_range_bucketed", joinRangeBucketed _, rangeOracle),
    OpDef("join_interval", joinInterval _, intervalOracle),
    OpDef("join_pit", joinPit _, pitOracle),
    OpDef("join_pit_multi", joinPitMulti _, pitMultiOracle),
    OpDef("join_range", joinRange _, rangeOracle),
    OpDef("join_asof_nearest", joinAsofNearest _, asofNearestOracle),
    OpDef("join_asof", joinAsof _,
      """WITH clicks AS (
        |  SELECT user_id, MAX(event_id) AS event_id, ts
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, ts
        |),
        |errors AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'
        |)
        |SELECT e.user_id, e.event_id AS error_id, e.ts AS error_ts,
        |  c.event_id AS click_id, c.ts AS click_ts,
        |  epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS micros_since_click
        |FROM errors e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.ts > c.ts
        |ORDER BY e.user_id, error_id""".stripMargin),
    OpDef("window_tumbling", windowTumbling _,
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin),
    OpDef("events_attribution", eventsAttribution _,
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |),
        |sess AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked
        |),
        |touched AS (
        |  SELECT event_type, value,
        |    FIRST_VALUE(event_type) OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts ASC, event_id ASC) AS first_touch
        |  FROM sess
        |)
        |SELECT first_touch, COUNT(*) AS n_purchases,
        |  CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000 AS attributed_value
        |FROM touched WHERE event_type = 'purchase'
        |GROUP BY first_touch
        |ORDER BY first_touch""".stripMargin),
    OpDef("events_markov", eventsMarkov _,
      """WITH nexted AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev_type
        |  FROM events
        |),
        |pairs AS (
        |  SELECT prev_type, event_type, COUNT(*) AS n_transitions
        |  FROM nexted WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type
        |)
        |SELECT prev_type, event_type, n_transitions,
        |  CAST(FLOOR((CAST(n_transitions AS DOUBLE) /
        |    CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE))
        |    * 1000000000 + 0.5) AS DOUBLE) / 1000000000 AS p_transition
        |FROM pairs
        |ORDER BY prev_type, event_type""".stripMargin),
    OpDef("events_streaks", eventsStreaks _,
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |),
        |islands AS (
        |  SELECT user_id, day,
        |    datediff('day', DATE '2024-01-01', day) -
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day ASC) AS grp
        |  FROM days
        |),
        |runs AS (
        |  SELECT user_id, grp, COUNT(*) AS len
        |  FROM islands GROUP BY user_id, grp
        |)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS active_days,
        |  MAX(len) AS longest_streak, COUNT(*) AS n_streaks
        |FROM runs GROUP BY user_id
        |ORDER BY user_id""".stripMargin),
    OpDef("event_sessions", eventSessions _,
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |),
        |sess AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    OpDef("cdc_upsert", cdcUpsert _,
      """WITH versioned AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events
        |)
        |SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |  event_type AS last_type, value AS last_value, n_versions
        |FROM versioned WHERE rn = 1
        |ORDER BY user_id""".stripMargin)
  )
}
