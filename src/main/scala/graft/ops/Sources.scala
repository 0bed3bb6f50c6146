package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._
import graft.functions.TextFns.{hash60, hash60Sql}
import graft.sources.CsvIO

/** Source/sink/staging demonstrations — SURVEY §2.1 (S1-S5).
  *
  * These ops exercise real IO: they round-trip engine tables through
  * the CSV sink + robust scan, and through parquet stage
  * materialization (the reference's CTAS-per-stage pattern,
  * `pipeline.py:45,90,97,…`). Temp paths live under java.io.tmpdir and
  * are overwritten idempotently (S4 `DROP TABLE IF EXISTS` analogue =
  * `SaveMode.Overwrite`).
  */
object Sources {

  private lazy val tmpRoot: String = {
    val p = Files.createTempDirectory("graft_stages_")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** S1+S5 — quoted CSV sink then permissive all-varchar scan; output
    * is the string-typed round trip of `nation`. */
  private def csvRoundtrip(s: SparkSession, d: String) = {
    import s.implicits._
    val path = s"$tmpRoot/nation_csv"
    CsvIO.writeQuoted(Tables.nation(s, d), path, singleFile = true)
    CsvIO.readRobust(s, path,
        Seq("n_nationkey", "n_name", "n_regionkey"), overflowColumns = 0)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .orderBy($"n_nationkey".cast("int"))
  }

  /** Schema evolution across ingest generations: a v1 stage written
    * with three columns and a v2 stage that ADDED `s_nationkey`, read
    * back together with `mergeSchema` — the widened schema applies
    * retroactively and v1 rows surface NULL for the new column
    * (`COUNT(col)` = 0 on the v1 side proves it). The generation is a
    * partition directory, so at 100 TB each generation's files keep
    * their own physical schema and only footers are reconciled; no
    * rewrite of old data when a column lands. */
  private def scanSchemaEvolution(s: SparkSession, d: String) = {
    import s.implicits._
    val path = s"$tmpRoot/supplier_evolved"
    Tables.supplier(s, d).select($"s_suppkey", $"s_name", $"s_acctbal")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/v=1")
    Tables.supplier(s, d)
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"s_nationkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/v=2")
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy($"v")
      .agg(count(lit(1)).as("n_rows"),
        count($"s_nationkey").as("n_with_nation"),
        sumExact($"s_acctbal").as("total_acctbal"))
      .orderBy($"v")
  }

  /** S3/S4 — CTAS-style stage materialization: aggregate → parquet
    * stage → read back → join to a dimension. At scale a materialized
    * stage is a deliberate pipeline breaker reused by several
    * consumers (the reference reads cleaned_applications 3×). */
  private def ctasStage(s: SparkSession, d: String) = {
    import s.implicits._
    val stagePath = s"$tmpRoot/stage_cust_per_nation"
    val perNation = Tables.customer(s, d)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_customers"))
    perNation.write.mode(SaveMode.Overwrite).parquet(stagePath)
    // read back with the written schema: no footer-inference job
    val stage = s.read.schema(perNation.schema).parquet(stagePath)
    val nation = Tables.nation(s, d)
    stage.join(broadcast(nation), stage("c_nationkey") === nation("n_nationkey"))
      .select($"n_nationkey", $"n_name", $"n_customers")
      .orderBy($"n_nationkey")
  }

  /** JSONL sink + schema-on-read scan (non-reference extra): typed
    * round trip through line-delimited JSON — doubles survive via
    * shortest-round-trip rendering, dates via ISO strings parsed back
    * by the explicit read schema. */
  private def jsonRoundtrip(s: SparkSession, d: String) = {
    import s.implicits._
    val path = s"$tmpRoot/orders_json"
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice", $"o_orderdate")
      .filter($"o_orderkey" % 100 === 0)
      .write.mode(SaveMode.Overwrite).json(path)
    s.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate DATE")
      .json(path)
      .orderBy($"o_orderkey")
  }

  /** Columnar-format round trip through ORC (non-reference extra):
    * the other columnar format a lake ingests alongside parquet —
    * Spark's ORC source is native and vectorized, so the same
    * pushdown/pruning machinery applies. Types (int64/int32, string,
    * double) must survive bit-exact: the oracle reads the ORIGINAL
    * parquet, so the round trip is checked as the identity. */
  private def orcRoundtrip(s: SparkSession, d: String) = {
    import s.implicits._
    val path = s"$tmpRoot/supplier_orc"
    Tables.supplier(s, d).write.mode(SaveMode.Overwrite).orc(path)
    s.read.orc(path)
      .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
      .orderBy($"s_suppkey")
  }

  /** Hive-style partitioned parquet sink + partition-PRUNED read-back
    * (non-reference extra): orders staged partitioned by order month,
    * then a one-quarter query against the stage. The month filter
    * prunes at the DIRECTORY level (`PartitionFilters` in the scan,
    * never touching other months' files) — the table layout that lets
    * a 100 TB fact table serve a one-month query by listing one
    * directory instead of scanning a year. The read-back declares its
    * schema (partition column included) — no inference, so an empty
    * stage reads as an empty frame and partition values never
    * type-drift. */
  private def sinkPartitioned(s: SparkSession, d: String) = {
    import s.implicits._
    val path = s"$tmpRoot/orders_by_month"
    Tables.orders(s, d)
      .withColumn("o_month",
        (year($"o_orderdate") * 100 + month($"o_orderdate")).cast("int"))
      .write.mode(SaveMode.Overwrite).partitionBy("o_month").parquet(path)
    s.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING, " +
        "o_month INT")
      .parquet(path)
      .filter($"o_month".isin(199501, 199502, 199503))
      .groupBy($"o_month", $"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sumExact($"o_totalprice").as("total_price"))
      .orderBy($"o_month", $"o_orderstatus")
  }

  private val ZBits = 8
  private val ZTile = 256

  /** Bit-interleave `x` and `y` (each [[ZBits]] wide) into a Morton
    * z-value — spelled as a literal sum of shift/mask terms so the
    * SAME text runs as a codegen'd Spark expression and as the DuckDB
    * oracle's integer math. */
  private def zvalSql(x: String, y: String): String =
    (0 until ZBits).map(i =>
      s"(((($x) >> $i) & 1) << ${2 * i}) + (((($y) >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " + ", ")")

  /** Z-order layout clustering (non-reference extra) — the
    * multi-dimensional file-layout primitive behind OPTIMIZE ZORDER:
    * interleave two dimension keys into a Morton z-value and bucket
    * rows by consecutive z-ranges. Each [[ZTile]]-wide z-range is a
    * 16×16 tile in (x, y) space, so BOTH dimensions' spans stay ≤ 15
    * inside every bucket — the property that lets a reader prune files
    * on min/max stats of EITHER dimension, where a single-column sort
    * clusters one dimension and scatters the other. At 100 TB the
    * z-value is this same row-local integer expression followed by
    * `repartitionByRange(zval)` at write time (each output file = one
    * tile of this query); the op emits the per-tile spans that prove
    * the bound. */
  private def layoutZorder(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select(($"l_partkey" % ZTile).cast("int").as("x"),
        ($"l_suppkey" % ZTile).cast("int").as("y"))
      .withColumn("zval", expr(zvalSql("x", "y")))
      .groupBy(expr(s"CAST(zval div $ZTile AS INT)").as("tile"))
      .agg(count(lit(1)).as("n_rows"),
        (max($"x") - min($"x")).as("x_span"),
        (max($"y") - min($"y")).as("y_span"))
      .orderBy($"tile")
  }

  /** S2 — bare parquet scan with projection+predicate pushdown. */
  private def scanParquet(s: SparkSession, d: String) = {
    import s.implicits._
    Tables.supplier(s, d)
      .filter($"s_acctbal" > 0.0)
      .select($"s_suppkey", $"s_name", $"s_acctbal")
      .orderBy($"s_suppkey")
  }

  // Compaction bin capacity (size-proxy units; row count × 100 stands
  // in for file bytes — the planner's arithmetic is what's exercised).
  private val CompactTarget = 20000L

  /** Small-files compaction planner — the table-maintenance op that
    * keeps a 100 TB lake readable: given a file manifest (here
    * simulated as per-(ship-month, supplier-bucket) file sizes),
    * pack each partition's files in file-id order into target-sized
    * output bins (next-fit by running size) and report the merge plan:
    * which contiguous file span folds into which compacted file, and
    * how full each bin lands.
    *
    * Scale: the MANIFEST is the input — metadata rows (one per file),
    * never the data itself — so the whole plan is a per-partition
    * running-sum window over file counts in the thousands: one keyed
    * shuffle of metadata. The plan's integer arithmetic
    * (`(cum - size) div target`) is engine-exact, and executing the
    * plan is an embarrassingly parallel per-bin file rewrite. */
  /** Zone-map effectiveness report — the reader-side complement of
    * `layout_zorder`: quantifies how much file skipping each layout
    * actually buys a point query. Two simulated file layouts over the
    * same fact rows, both with scale-honest assignment (no global row
    * numbering): `sorted` = one file per ISO week of `l_shipdate`
    * (what `repartitionByRange` at write time produces), `ingest` =
    * the same NUMBER of files assigned by order-key hash (arrival
    * order). Per (layout, file): min/max shipdate zone maps; then a
    * deterministic probe-date sample counts, per probe, how many files
    * a min/max-pruning reader must open. avg_files_hit ≈ 1 for the
    * sorted layout vs ≈ all files for ingest — the number that
    * justifies sorted/z-ordered writes at 100 TB.
    *
    * Shuffles: one map-side-combined aggregate per layout onto FILE
    * rows; the probe count is a broadcast join of the file-count-sized
    * zone maps against the sampled probes. Ratios quantize to 6 dp. */
  private def layoutZonemap(s: SparkSession, d: String) = {
    import s.implicits._
    import graft.functions.TextFns.hash60
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_shipdate")
    val weekFile = expr("datediff(date_trunc('week', l_shipdate), DATE '1992-01-06') div 7")
    val nf = li.select(weekFile.as("f")).distinct()
      .agg(count(lit(1)).cast("long").as("n_files"))
    val assigned = li.crossJoin(broadcast(nf))
      .select($"l_shipdate", $"n_files",
        weekFile.as("sorted"),
        (hash60(concat(lit("zm:"), $"l_orderkey")) % $"n_files").as("ingest"))
    val zones = assigned
      .select($"l_shipdate", explode(map(
        lit("sorted"), $"sorted", lit("ingest"), $"ingest")).as(Seq("layout", "f")))
      .groupBy($"layout", $"f")
      .agg(min($"l_shipdate").as("lo"), max($"l_shipdate").as("hi"),
        count(lit(1)).as("in_file"))
      .cache()
    val probes = li.select($"l_shipdate").distinct()
      .filter(hash60(concat(lit("probe:"), $"l_shipdate".cast("string"))) % 20 === 0)
    val hits = broadcast(zones).join(probes,
        $"l_shipdate" >= $"lo" && $"l_shipdate" <= $"hi")
      .groupBy($"layout", $"l_shipdate").agg(count(lit(1)).as("files_hit"))
      .groupBy($"layout").agg(
        count(lit(1)).as("n_probes"), sum($"files_hit").as("hit_sum"))
    zones.groupBy($"layout")
      .agg(count(lit(1)).as("n_files"), sum($"in_file").as("n_rows"))
      .join(hits, "layout")
      .select($"layout", $"n_files", $"n_rows",
        roundHalfUp($"hit_sum" / $"n_probes", 6).as("avg_files_hit"),
        roundHalfUp(lit(1.0) - $"hit_sum" / ($"n_probes" * $"n_files"), 6)
          .as("pct_pruned"))
      .orderBy($"layout")
  }

  private def zonemapOracle: String =
    s"""WITH li AS (
       |  SELECT l_orderkey, l_shipdate,
       |    datediff('day', DATE '1992-01-06', date_trunc('week', l_shipdate)) // 7
       |      AS wf
       |  FROM lineitem
       |),
       |nf AS (SELECT CAST(COUNT(DISTINCT wf) AS BIGINT) AS n_files FROM li),
       |assigned AS (
       |  SELECT l_shipdate, 'sorted' AS layout, wf AS f FROM li
       |  UNION ALL
       |  SELECT l.l_shipdate, 'ingest',
       |    ${graft.functions.TextFns.hash60Sql("'zm:' || l.l_orderkey")} % n.n_files
       |  FROM li l CROSS JOIN nf n
       |),
       |zones AS (
       |  SELECT layout, f, MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi,
       |    COUNT(*) AS in_file FROM assigned GROUP BY layout, f
       |),
       |probes AS (
       |  SELECT DISTINCT l_shipdate FROM li
       |  WHERE ${graft.functions.TextFns.hash60Sql("'probe:' || CAST(l_shipdate AS VARCHAR)")} % 20 = 0
       |),
       |perprobe AS (
       |  SELECT z.layout, p.l_shipdate, COUNT(*) AS files_hit
       |  FROM zones z JOIN probes p ON p.l_shipdate BETWEEN z.lo AND z.hi
       |  GROUP BY z.layout, p.l_shipdate
       |),
       |hits AS (
       |  SELECT layout, COUNT(*) AS n_probes,
       |    CAST(SUM(files_hit) AS BIGINT) AS hit_sum
       |  FROM perprobe GROUP BY layout
       |),
       |files AS (
       |  SELECT layout, COUNT(*) AS n_files, CAST(SUM(in_file) AS BIGINT) AS n_rows
       |  FROM zones GROUP BY layout
       |)
       |SELECT f.layout, f.n_files, f.n_rows,
       |  ${roundHalfUpSql("1.0 * h.hit_sum / h.n_probes", 6)} AS avg_files_hit,
       |  ${roundHalfUpSql(
      "1.0 - 1.0 * h.hit_sum / (h.n_probes * f.n_files)", 6)} AS pct_pruned
       |FROM files f JOIN hits h ON h.layout = f.layout
       |ORDER BY f.layout""".stripMargin

  private def layoutCompaction(s: SparkSession, d: String) = {
    import s.implicits._
    val manifest = Tables.lineitem(s, d)
      .groupBy(
        (year($"l_shipdate") * 100 + month($"l_shipdate")).cast("int")
          .as("p_month"),
        ($"l_suppkey" % 20).cast("int").as("file_id"))
      .agg((count(lit(1)) * 100L).as("size_bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"p_month").orderBy($"file_id".asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    manifest
      .withColumn("cum", sum($"size_bytes").over(w))
      .withColumn("bin", expr(s"(cum - size_bytes) div $CompactTarget"))
      .groupBy($"p_month", $"bin")
      .agg(count(lit(1)).as("n_files"), sum($"size_bytes").as("bin_bytes"),
        min($"file_id").as("first_file"), max($"file_id").as("last_file"))
      .orderBy($"p_month", $"bin")
  }

  private def layoutCompactionOracle: String =
    s"""WITH manifest AS (
       |  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)
       |      AS p_month,
       |    CAST(l_suppkey % 20 AS INT) AS file_id,
       |    CAST(COUNT(*) * 100 AS BIGINT) AS size_bytes
       |  FROM lineitem GROUP BY 1, 2
       |),
       |packed AS (
       |  SELECT p_month, file_id, size_bytes,
       |    SUM(size_bytes) OVER (PARTITION BY p_month ORDER BY file_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM manifest
       |)
       |SELECT p_month, CAST((cum - size_bytes) // $CompactTarget AS BIGINT)
       |    AS bin,
       |  COUNT(*) AS n_files, CAST(SUM(size_bytes) AS BIGINT) AS bin_bytes,
       |  MIN(file_id) AS first_file, MAX(file_id) AS last_file
       |FROM packed GROUP BY p_month, bin
       |ORDER BY p_month, bin""".stripMargin

  /** Compaction EXECUTOR — the other half of OPTIMIZE that
    * `layout_compaction` only plans: materialize the planned bins as a
    * REAL parquet rewrite (the (p_month, bin) shuffle guarantees every
    * bin is rewritten WHOLE by exactly one task — embarrassingly
    * parallel, the property that lets a 1000-executor cluster compact
    * a 100 TB table as a flat map of bin-rewrite tasks), read the
    * compacted store back, and re-run the `layout_zonemap` probe over
    * BOTH layouts to prove pruning survives compaction: the
    * post-compaction store answers the same point probes opening
    * ~merge-factor FEWER read units while month-level pruning is
    * preserved (bins never cross p_month).
    *
    * Read-unit accounting: `n_files`/zone rows are per PLANNED BIN,
    * recomputed from the read-back rows — the row-group-stats granule
    * a reader prunes on inside the sorted flat store — NOT physical
    * files on disk (one task's file may pack several sorted bins, and
    * the physical file count depends on session parallelism, which an
    * oracle cannot mirror). Row conservation and whole-bin assignment
    * through the rewrite ARE physical facts of the store; the oracle
    * simulates the rewrite in SQL so the hash gate proves nothing was
    * lost, duplicated, or mis-binned.
    *
    * Scale: the plan is metadata-sized (one row per input file) and
    * joins broadcast; the rewrite is one shuffle keyed (p_month, bin);
    * the verification is the zonemap op's folds. */
  private def layoutCompactionExec(s: SparkSession, d: String) = {
    import s.implicits._
    val rows = Tables.lineitem(s, d).select(
      (year($"l_shipdate") * 100 + month($"l_shipdate")).cast("int")
        .as("p_month"),
      ($"l_suppkey" % 20).cast("int").as("file_id"),
      $"l_shipdate")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"p_month").orderBy($"file_id".asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val plan = rows.groupBy($"p_month", $"file_id")
      .agg((count(lit(1)) * 100L).as("size_bytes"))
      .withColumn("cum", sum($"size_bytes").over(w))
      .select($"p_month", $"file_id",
        expr(s"(cum - size_bytes) div $CompactTarget").as("bin"))
    val path = s"$tmpRoot/li_compacted"
    // The compacted store writes as SORTED FLAT parquet — bin-keyed
    // repartition (each bin lands whole in ONE task's output; a task
    // may pack several bins) + a (p_month, bin) sort within files, so
    // row groups carry tight (p_month, bin) stats. That is the
    // Iceberg/Delta table shape: pruning reads stats granules, not
    // directory trees. The Hive-style partitionBy variant (which WOULD
    // make bins physical files) prunes
    // identically in this report but paid ~150 ms/directory in the
    // dynamic-partition commit protocol alone (measured 11.6 s for
    // 329 dirs vs 3.3 s flat at sf0.1) — exactly the many-small-
    // objects tax a 100 TB compaction job exists to avoid.
    rows.join(broadcast(plan), Seq("p_month", "file_id"))
      .repartition($"p_month", $"bin")
      .sortWithinPartitions($"p_month", $"bin")
      .write.mode(SaveMode.Overwrite)
      .parquet(path)
    // a zero-row partitioned write leaves no part files to infer a
    // schema from — the empty-input shape reads back as an empty
    // frame with the written schema
    val back =
      try s.read.parquet(path)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          rows.limit(0).withColumn("bin", lit(0L))
            .select($"p_month", $"bin", $"l_shipdate")
      }
    val zones = rows
      .select(lit("precompact").as("layout"), $"p_month",
        $"file_id".cast("long").as("f"), $"l_shipdate")
      .unionByName(back.select(lit("postcompact").as("layout"),
        $"p_month".cast("int").as("p_month"), $"bin".cast("long").as("f"),
        $"l_shipdate"))
      .groupBy($"layout", $"p_month", $"f")
      .agg(min($"l_shipdate").as("lo"), max($"l_shipdate").as("hi"),
        count(lit(1)).as("in_file"))
      .cache()
    val probes = Tables.lineitem(s, d).select($"l_shipdate").distinct()
      .filter(hash60(concat(lit("probe:"), $"l_shipdate".cast("string")))
        % 20 === 0)
    val hits = broadcast(zones).join(probes,
        $"l_shipdate" >= $"lo" && $"l_shipdate" <= $"hi")
      .groupBy($"layout", $"l_shipdate").agg(count(lit(1)).as("files_hit"))
      .groupBy($"layout").agg(
        count(lit(1)).as("n_probes"), sum($"files_hit").as("hit_sum"))
    zones.groupBy($"layout")
      .agg(count(lit(1)).as("n_files"), sum($"in_file").as("n_rows"))
      .join(hits, "layout")
      .select($"layout", $"n_files", $"n_rows",
        roundHalfUp($"hit_sum" / $"n_probes", 6).as("avg_files_hit"),
        roundHalfUp(lit(1.0) - $"hit_sum" / ($"n_probes" * $"n_files"), 6)
          .as("pct_pruned"))
      .orderBy($"layout")
  }

  /** Spec hook: run the executor for `d` and return the compacted
    * store path (the read-back side of the rewrite). */
  private[graft] def compactedPathForSpec(s: SparkSession, d: String)
      : String = {
    layoutCompactionExec(s, d).count()
    s"$tmpRoot/li_compacted"
  }

  private def layoutCompactionExecOracle: String =
    s"""WITH manifest AS (
       |  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)
       |      AS p_month,
       |    CAST(l_suppkey % 20 AS INT) AS file_id,
       |    CAST(COUNT(*) * 100 AS BIGINT) AS size_bytes
       |  FROM lineitem GROUP BY 1, 2
       |),
       |plan_ AS (
       |  SELECT p_month, file_id,
       |    (SUM(size_bytes) OVER (PARTITION BY p_month ORDER BY file_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |     - size_bytes) // $CompactTarget AS bin
       |  FROM manifest
       |),
       |rows_ AS (
       |  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)
       |      AS p_month,
       |    CAST(l_suppkey % 20 AS INT) AS file_id,
       |    l_shipdate
       |  FROM lineitem
       |),
       |asg AS (
       |  SELECT r.p_month, r.file_id, p.bin, r.l_shipdate
       |  FROM rows_ r JOIN plan_ p
       |    ON p.p_month = r.p_month AND p.file_id = r.file_id
       |),
       |zones AS (
       |  SELECT 'precompact' AS layout, p_month,
       |    CAST(file_id AS BIGINT) AS f,
       |    MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi,
       |    COUNT(*) AS in_file
       |  FROM asg GROUP BY 2, 3
       |  UNION ALL
       |  SELECT 'postcompact', p_month, CAST(bin AS BIGINT),
       |    MIN(l_shipdate), MAX(l_shipdate), COUNT(*)
       |  FROM asg GROUP BY 2, 3
       |),
       |probes AS (
       |  SELECT DISTINCT l_shipdate FROM lineitem
       |  WHERE ${hash60Sql("'probe:' || CAST(l_shipdate AS VARCHAR)")} % 20 = 0
       |),
       |perprobe AS (
       |  SELECT z.layout, p.l_shipdate, COUNT(*) AS files_hit
       |  FROM zones z JOIN probes p ON p.l_shipdate BETWEEN z.lo AND z.hi
       |  GROUP BY z.layout, p.l_shipdate
       |),
       |hits AS (
       |  SELECT layout, COUNT(*) AS n_probes,
       |    CAST(SUM(files_hit) AS BIGINT) AS hit_sum
       |  FROM perprobe GROUP BY layout
       |),
       |files AS (
       |  SELECT layout, COUNT(*) AS n_files,
       |    CAST(SUM(in_file) AS BIGINT) AS n_rows
       |  FROM zones GROUP BY layout
       |)
       |SELECT f.layout, f.n_files, f.n_rows,
       |  ${roundHalfUpSql("1.0 * h.hit_sum / h.n_probes", 6)} AS avg_files_hit,
       |  ${roundHalfUpSql(
      "1.0 - 1.0 * h.hit_sum / (h.n_probes * f.n_files)", 6)} AS pct_pruned
       |FROM files f JOIN hits h ON h.layout = f.layout
       |ORDER BY f.layout""".stripMargin

  // Keys synthesized by the v2 snapshot simulation: deletes every
  // 97th order, flips the status of every 89th, inserts a shifted
  // copy of every 101st above this offset (clear of real keys).
  private val SnapInsertOffset = 100000000L

  /** Snapshot diff — the dataset-versioning primitive: given two
    * materialized versions of a table (here orders v1, and a v2 with
    * simulated deletes/updates/inserts staged to parquet), classify
    * every key as added / removed / changed / unchanged and report
    * per-status counts and key ranges. This is the audit step behind
    * incremental publishing: "what did this ingest actually do?".
    *
    * Scale: each side reduces to `(key, md5 digest)` AT THE SCAN —
    * only ids and 32-hex digests cross the one full-outer keyed
    * shuffle, payload columns never leave their file partitions (the
    * digest folds them row-locally). The status summary is a map-side
    * combined aggregate onto 4 rows. At warehouse scale both
    * snapshots are date-partitioned, so the join prunes to partitions
    * whose digests can differ; the digest-at-scan shape is what makes
    * diffing 100 TB snapshots a metadata-sized shuffle. */
  // Above every id any ScaleData copy can produce: copies shift doc_id
  // by k*10^7 with factor up to 21, so real ids stay below ~2.2e8;
  // 1e9 keeps "inserted" keys disjoint at any supported factor.
  private val MergeInsertOffset = 1000000000L

  /** MERGE INTO — the lakehouse three-way write (WHEN MATCHED UPDATE /
    * WHEN MATCHED AND tombstone DELETE / WHEN NOT MATCHED INSERT) the
    * maintenance family brackets from both sides (`snapshot_diff`
    * measures what changed; `cdc_upsert` collapses a log latest-wins;
    * this APPLIES a change batch in one pass). The corpus is the
    * target; today's crawl batch is the deterministic inc slice of
    * docs (`hash60("inc:"‖id) % 10`), each carrying its action by id:
    * %3 = 0 tombstone, %3 = 1 recrawl (text gains a marker),
    * %3 = 2 brand-new doc (id offset into fresh key space). One FULL
    * OUTER join on the key, every action a row-local CASE — exactly
    * the shuffle structure Delta/Iceberg MERGE executes, minus the
    * file rewrite `corpus_shard_manifest` demonstrates separately.
    * Output: the merged corpus as an audit frame — key, action
    * (`kept`/`updated`/`deleted`/`inserted`), final content digest
    * (old text for deletes, proving WHICH version each row holds),
    * source.
    *
    * Scale: one key-partitioned full-outer shuffle; the batch side is
    * increment-sized; no row ever carries more than one text. */
  private def mergeInto(s: SparkSession, d: String) = {
    import s.implicits._
    val target = Tables.documents(s, d).select($"doc_id", $"text", $"source")
    val batch = target
      .filter(hash60(concat(lit("inc:"), $"doc_id")) % 10 === 0)
      .select(
        when($"doc_id" % 3 === 2, $"doc_id" + MergeInsertOffset)
          .otherwise($"doc_id").as("doc_id"),
        when($"doc_id" % 3 === 1, concat($"text", lit(" [recrawl]")))
          .otherwise($"text").as("btext"),
        $"source".as("bsource"),
        when($"doc_id" % 3 === 0, lit("delete")).otherwise(lit("upsert"))
          .as("op"))
    target.join(batch, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"op".isNull, "kept")
          .when($"text".isNull, "inserted")
          .when($"op" === "delete", "deleted")
          .otherwise("updated").as("action"),
        md5(when($"op".isNull || $"op" === "delete", $"text")
          .otherwise($"btext")).as("content_md5"),
        coalesce($"source", $"bsource").as("source"))
      .orderBy($"doc_id")
  }

  /** MERGE with a GUARDED delete arm + the per-action audit counts —
    * the operational metric a real lakehouse merge logs. The batch's
    * delete candidates only fire `WHEN MATCHED AND <cond> THEN
    * DELETE`; rows whose guard fails stay (`delete_skipped`, the arm
    * real retention merges need: the tombstone batch asks, the
    * target's own state decides). The guard here is a deterministic
    * retention-predicate stand-in (even normalized length). Output is
    * the action histogram (kept / updated / inserted / deleted /
    * delete_skipped) — rows, not the table — because that's what the
    * merge job EMITS to its run log; MergeIntoSpec reconciles the
    * counts against an independently-derived expectation.
    *
    * Scale: one full-outer key join (the merge shuffle) followed by a
    * map-side-combined 5-group histogram — the audit adds no extra
    * pass over the data. */
  private def mergeIntoDelete(s: SparkSession, d: String) = {
    import s.implicits._
    val target = Tables.documents(s, d).select($"doc_id", $"text", $"source")
    val batch = target
      .filter(hash60(concat(lit("inc:"), $"doc_id")) % 10 === 0)
      .select(
        when($"doc_id" % 3 === 2, $"doc_id" + MergeInsertOffset)
          .otherwise($"doc_id").as("doc_id"),
        when($"doc_id" % 3 === 0, lit("delete")).otherwise(lit("upsert"))
          .as("op"))
    target.join(batch, Seq("doc_id"), "full_outer")
      .select(
        when($"op".isNull, "kept")
          .when($"text".isNull, "inserted")
          .when($"op" === "delete" && length($"text") % 2 === 0, "deleted")
          .when($"op" === "delete", "delete_skipped")
          .otherwise("updated").as("action"))
      .groupBy($"action").agg(count(lit(1)).as("n_rows"))
      .orderBy($"action")
  }

  private def mergeIntoDeleteOracle: String =
    s"""WITH batch AS (
       |  SELECT
       |    CASE WHEN doc_id % 3 = 2 THEN doc_id + $MergeInsertOffset
       |         ELSE doc_id END AS doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'delete' ELSE 'upsert' END AS op
       |  FROM documents
       |  WHERE ${hash60Sql("'inc:' || doc_id")} % 10 = 0
       |)
       |SELECT action, COUNT(*) AS n_rows FROM (
       |  SELECT CASE WHEN b.op IS NULL THEN 'kept'
       |       WHEN t.text IS NULL THEN 'inserted'
       |       WHEN b.op = 'delete' AND len(t.text) % 2 = 0 THEN 'deleted'
       |       WHEN b.op = 'delete' THEN 'delete_skipped'
       |       ELSE 'updated' END AS action
       |  FROM documents t FULL OUTER JOIN batch b ON b.doc_id = t.doc_id
       |) a
       |GROUP BY action
       |ORDER BY action""".stripMargin

  private def mergeIntoOracle: String =
    s"""WITH batch AS (
       |  SELECT
       |    CASE WHEN doc_id % 3 = 2 THEN doc_id + $MergeInsertOffset
       |         ELSE doc_id END AS doc_id,
       |    CASE WHEN doc_id % 3 = 1 THEN text || ' [recrawl]'
       |         ELSE text END AS btext,
       |    source AS bsource,
       |    CASE WHEN doc_id % 3 = 0 THEN 'delete' ELSE 'upsert' END AS op
       |  FROM documents
       |  WHERE ${hash60Sql("'inc:' || doc_id")} % 10 = 0
       |)
       |SELECT COALESCE(t.doc_id, b.doc_id) AS doc_id,
       |  CASE WHEN b.op IS NULL THEN 'kept'
       |       WHEN t.text IS NULL THEN 'inserted'
       |       WHEN b.op = 'delete' THEN 'deleted'
       |       ELSE 'updated' END AS action,
       |  md5(CASE WHEN b.op IS NULL OR b.op = 'delete' THEN t.text
       |           ELSE b.btext END) AS content_md5,
       |  COALESCE(t.source, b.bsource) AS source
       |FROM documents t FULL OUTER JOIN batch b ON b.doc_id = t.doc_id
       |ORDER BY doc_id""".stripMargin

  /** MERGE INTO with SCHEMA EVOLUTION — the lakehouse maintenance
    * combination `merge_into` and `scan_schema_evolution` bracket
    * from either side: the recrawl batch now carries a column the
    * store has never seen (`lang`), and the merge applies its actions
    * copy-on-write — gen-1 keeps the surviving untouched rows AT THE
    * OLD PHYSICAL SCHEMA (a column landing must never rewrite old
    * data), gen-2 holds the batch's upserts at the evolved schema,
    * deleted keys land nowhere — then the evolved store reads back
    * through `mergeSchema`, which widens retroactively: gen-1 rows
    * surface NULL `lang` (the backfill semantics MergeIntoSpec pins).
    *
    * Scale: the anti-join is the only shuffle (batch-key-sized build
    * side); each generation's files keep their own footer schema, so
    * at 100 TB evolution costs one footer reconcile, not a rewrite. */
  private[graft] def mergeEvolveStage(s: SparkSession, d: String): String = {
    import s.implicits._
    val path = s"$tmpRoot/docs_merge_evolve"
    val target = Tables.documents(s, d).select($"doc_id", $"text", $"source")
    val batch = target
      .filter(hash60(concat(lit("inc:"), $"doc_id")) % 10 === 0)
      .select(
        when($"doc_id" % 3 === 2, $"doc_id" + MergeInsertOffset)
          .otherwise($"doc_id").as("doc_id"),
        when($"doc_id" % 3 === 1, concat($"text", lit(" [recrawl]")))
          .otherwise($"text").as("btext"),
        $"source".as("bsource"),
        when($"doc_id" % 3 === 0, lit("delete")).otherwise(lit("upsert"))
          .as("op"),
        when($"doc_id" % 2 === 0, lit("en")).otherwise(lit("de")).as("lang"))
      .cache()
    target.join(batch.select($"doc_id"), Seq("doc_id"), "left_anti")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/gen=1")
    batch.filter($"op" === "upsert")
      .select($"doc_id", $"btext".as("text"), $"bsource".as("source"),
        $"lang")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/gen=2")
    batch.unpersist(false)
    path
  }

  private def mergeIntoEvolve(s: SparkSession, d: String) = {
    import s.implicits._
    s.read.option("mergeSchema", "true").parquet(mergeEvolveStage(s, d))
      .select($"doc_id", md5($"text").as("content_md5"), $"source",
        $"lang", $"gen".cast("int").as("gen"))
      .orderBy($"doc_id")
  }

  private def mergeEvolveOracle: String =
    s"""WITH batch AS (
       |  SELECT
       |    CASE WHEN doc_id % 3 = 2 THEN doc_id + $MergeInsertOffset
       |         ELSE doc_id END AS doc_id,
       |    CASE WHEN doc_id % 3 = 1 THEN text || ' [recrawl]'
       |         ELSE text END AS btext,
       |    source AS bsource,
       |    CASE WHEN doc_id % 3 = 0 THEN 'delete' ELSE 'upsert' END AS op,
       |    CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END AS lang
       |  FROM documents
       |  WHERE ${hash60Sql("'inc:' || doc_id")} % 10 = 0
       |)
       |SELECT t.doc_id, md5(t.text) AS content_md5, t.source,
       |  CAST(NULL AS VARCHAR) AS lang, CAST(1 AS INT) AS gen
       |FROM documents t
       |WHERE t.doc_id NOT IN (SELECT doc_id FROM batch)
       |UNION ALL
       |SELECT doc_id, md5(btext), bsource, lang, CAST(2 AS INT)
       |FROM batch WHERE op = 'upsert'
       |ORDER BY doc_id""".stripMargin

  private def snapshotDiff(s: SparkSession, d: String) = {
    import s.implicits._
    val path = s"$tmpRoot/orders_snap"
    val v1 = Tables.orders(s, d)
    v1.write.mode(SaveMode.Overwrite).parquet(s"$path/v1")
    v1.filter($"o_orderkey" % 97 =!= 0)
      .withColumn("o_orderstatus",
        when($"o_orderkey" % 89 === 0, lit("X")).otherwise($"o_orderstatus"))
      .unionByName(v1.filter($"o_orderkey" % 101 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + SnapInsertOffset))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/v2")
    // digest of the compared payload; totalprice via decimal(12,2) so
    // both engines hash the identical string rendering
    def keyed(p: String, h: String) = s.read.parquet(p)
      .select($"o_orderkey".as("k"),
        md5(concat_ws("|", $"o_orderstatus", $"o_orderpriority",
          $"o_totalprice".cast("decimal(12,2)").cast("string"))).as(h))
    keyed(s"$path/v1", "h1")
      .join(keyed(s"$path/v2", "h2"), Seq("k"), "full_outer")
      .select($"k",
        when($"h1".isNull, "added").when($"h2".isNull, "removed")
          .when($"h1" === $"h2", "unchanged").otherwise("changed")
          .as("status"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n"),
        min($"k").as("min_key"), max($"k").as("max_key"))
      .orderBy($"status")
  }

  private def snapshotDiffOracle: String =
    s"""WITH v2 AS (
       |  SELECT o_orderkey,
       |    CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END
       |      AS o_orderstatus,
       |    o_orderpriority, o_totalprice
       |  FROM orders WHERE o_orderkey % 97 <> 0
       |  UNION ALL
       |  SELECT o_orderkey + $SnapInsertOffset, o_orderstatus,
       |    o_orderpriority, o_totalprice
       |  FROM orders WHERE o_orderkey % 101 = 0
       |),
       |h1 AS (
       |  SELECT o_orderkey AS k, md5(concat_ws('|', o_orderstatus,
       |    o_orderpriority,
       |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR))) AS h
       |  FROM orders
       |),
       |h2 AS (
       |  SELECT o_orderkey AS k, md5(concat_ws('|', o_orderstatus,
       |    o_orderpriority,
       |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR))) AS h
       |  FROM v2
       |),
       |j AS (
       |  SELECT COALESCE(h1.k, h2.k) AS k,
       |    CASE WHEN h1.h IS NULL THEN 'added'
       |         WHEN h2.h IS NULL THEN 'removed'
       |         WHEN h1.h = h2.h THEN 'unchanged'
       |         ELSE 'changed' END AS status
       |  FROM h1 FULL OUTER JOIN h2 ON h1.k = h2.k
       |)
       |SELECT status, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
       |FROM j GROUP BY status ORDER BY status""".stripMargin

  // ── Commit-log time travel ────────────────────────────────────────
  // Above MergeInsertOffset (1e9) so the families can never collide;
  // version v inserts land at base_id + v * TtInsertOffset.
  private val TtStoreDir = "/tmp/graft_timetravel_store"
  private val TtInsertOffset = 2000000000L
  // Content digest = SUM(hash60(row) % 1e12): order-independent exact
  // integer arithmetic; overflow-safe up to ~9e6 rows per snapshot
  // (9.2e18 / 1e12), far above any catalog sf. At warehouse scale the
  // digest would shard per partition before the final fold.
  private val TtDigestMod = 1000000000000L

  /** Deterministic change batch v (1-based) over the documents BASE
    * keyspace: keys where hash60("tt{v}:"‖id) % 10 = 0; action by
    * (doc_id + v) % 3 — 0 → delete, 1 → update (text gains
    * " [tt v{v}]"), 2 → insert under the fresh key
    * base_id + v·[[TtInsertOffset]]. The selector is VERSION-dependent
    * so the same key can draw different actions across commits — in
    * particular delete-in-v1 / update-in-v2, the resurrect case
    * latest-wins replay must get right (doc_id % 3 = 2 keys selected
    * by both batches hit exactly that path). */
  private def ttBatch(s: SparkSession, d: String, v: Int) = {
    import s.implicits._
    val act = ($"doc_id" + v) % 3
    Tables.documents(s, d).select($"doc_id", $"text", $"source")
      .filter(hash60(concat(lit(s"tt$v:"), $"doc_id")) % 10 === 0)
      .select(
        when(act === 2, $"doc_id" + v * TtInsertOffset)
          .otherwise($"doc_id").as("doc_id"),
        when(act === 0, lit(null).cast("string"))
          .when(act === 1, concat($"text", lit(s" [tt v$v]")))
          .otherwise($"text").as("text"),
        $"source",
        when(act === 0, lit("delete")).otherwise(lit("upsert")).as("op"),
        lit(v).as("version"))
  }

  /** Versioned store: base snapshot as commit 0 plus one delta file
    * per change batch, laid out `delta/version=N` ([[StoreStage]]
    * atomic publish). Reading "as of v" prunes on the version
    * partition column — the commit-log prune that makes time travel a
    * metadata operation at scale. */
  private[graft] def ttStage(s: SparkSession, d: String): String =
    StoreStage.ensure(TtStoreDir, d) { tmp =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"text", $"source", lit("upsert").as("op"))
        .write.parquet(s"$tmp/delta/version=0")
      (1 to 2).foreach { v =>
        ttBatch(s, d, v).drop("version")
          .write.parquet(s"$tmp/delta/version=$v")
      }
    }

  /** Latest-wins live rows at version `v` of any commit-log frame. */
  private[graft] def ttLiveAt(deltas: org.apache.spark.sql.DataFrame, v: Int) = {
    import deltas.sparkSession.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"version".desc)
    deltas
      .filter($"version" <= v)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"op" === "upsert")
      .select($"doc_id", $"text", $"source")
  }

  /** Live rows of snapshot `v` (spec hook, and the single-version read
    * path): the `version <= v` filter prunes delta PARTITIONS before
    * any row is read — time travel as a metadata operation. */
  private[graft] def ttSnapshot(s: SparkSession, d: String, v: Int) =
    ttLiveAt(s.read.parquet(s"${ttStage(s, d)}/delta"), v)

  /** Time travel over the commit-versioned store — the lakehouse read
    * path Delta/Iceberg call "as of version": every snapshot version
    * is the latest-wins merge-on-read replay of base + deltas ≤ v.
    * Emits one audit row per version: action count of that commit,
    * live row count, live inserted-key count, and an exact
    * order-independent content digest ([[TtDigestMod]]) proving WHICH
    * rows each snapshot holds — including the v1-delete / v2-update
    * resurrect case. The oracle re-derives the batches and replays
    * the same merge from the raw table, so store-fed ≡ recomputed is
    * hash-proven per driver run.
    *
    * Scale: one pass — each delta row expands to the snapshot
    * versions it is visible in (≤ n_versions, a handful), then ONE
    * (version, key) shuffle ranks latest-wins and the summary is a
    * map-side-combined 3-row aggregate. Reading any single snapshot
    * prunes delta partitions by the version column; deltas are
    * increment-sized, so replay cost tracks the change history, not
    * n_versions × corpus. */
  private def tableTimetravel(s: SparkSession, d: String) = {
    import s.implicits._
    val deltas = s.read.parquet(s"${ttStage(s, d)}/delta")
    val nActions = deltas.groupBy($"version".cast("int").as("version"))
      .agg(count(lit(1)).as("n_actions"))
    val vw = Window.partitionBy($"sv", $"doc_id").orderBy($"version".desc)
    val live = deltas
      .withColumn("sv", explode(expr("sequence(CAST(version AS INT), 2)")))
      .withColumn("rn", row_number().over(vw))
      .filter($"rn" === 1 && $"op" === "upsert")
    live.groupBy($"sv".as("version"))
      .agg(count(lit(1)).as("n_rows"),
        sum(($"doc_id" >= TtInsertOffset).cast("long")).as("n_inserted"),
        sum(hash60(concat_ws("|", $"doc_id", $"text", $"source"))
          % TtDigestMod).as("content_sum"))
      .join(nActions, "version")
      .select($"version", $"n_actions", $"n_rows", $"n_inserted",
        $"content_sum")
      .orderBy($"version")
  }

  // Retention vacuum of the commit log: commits < VacCutoff fold into
  // a checkpoint snapshot at VacCutoff; later deltas survive as-is.
  private val TtVacDir = "/tmp/graft_timetravel_vacuum"
  private val VacCutoff = 1

  /** Vacuumed twin of [[ttStage]] (the Delta VACUUM / Iceberg
    * expire-snapshots maintenance write): the base commit and every
    * delta < [[VacCutoff]] are REPLACED by one checkpoint file — the
    * latest-wins live state at the cutoff, tombstones and superseded
    * row versions physically dropped — while deltas ≥ cutoff copy
    * over untouched. Readers of any retained version see byte-equal
    * state ([[tableVacuum]] proves it); versions before the cutoff
    * become unreadable, which IS the retention contract. */
  private[graft] def ttVacStage(s: SparkSession, d: String): String =
    StoreStage.ensure(TtVacDir, d) { tmp =>
      import s.implicits._
      ttSnapshot(s, d, VacCutoff)
        .select($"doc_id", $"text", $"source", lit("upsert").as("op"))
        .write.parquet(s"$tmp/delta/version=$VacCutoff")
      (VacCutoff + 1 to 2).foreach { v =>
        s.read.parquet(s"${ttStage(s, d)}/delta")
          .filter($"version" === v)
          .select($"doc_id", $"text", $"source", $"op")
          .write.parquet(s"$tmp/delta/version=$v")
      }
    }

  /** Per-retained-version audit over a commit-log frame: live row
    * count + content digest (the read-side facts) and the physical
    * delta rows a `version <= v` read must scan (the cost the vacuum
    * exists to cut). `sv` ranges over retained snapshots only. */
  private def ttVacAudit(deltas: org.apache.spark.sql.DataFrame) = {
    import deltas.sparkSession.implicits._
    val vw = Window.partitionBy($"sv", $"doc_id").orderBy($"version".desc)
    val vis = deltas.withColumn("sv",
      explode(expr(s"sequence(greatest(CAST(version AS INT), $VacCutoff), 2)")))
    val live = vis
      .withColumn("rn", row_number().over(vw))
      .filter($"rn" === 1 && $"op" === "upsert")
      .groupBy($"sv".as("version"))
      .agg(count(lit(1)).as("n_rows"),
        sum(hash60(concat_ws("|", $"doc_id", $"text", $"source"))
          % TtDigestMod).as("content_sum"))
    val scanned = vis.groupBy($"sv".as("version"))
      .agg(count(lit(1)).as("n_scanned"))
    live.join(scanned, "version")
  }

  /** Vacuum audit — the proof a retention rewrite wants before it
    * swaps stores: for every RETAINED version, the vacuumed store's
    * live rows and content digest against the full-history store's
    * (`digest_match` — store-fed ≡ full replay, per run), plus the
    * physical rows a reader must scan before and after (the reclaim:
    * the checkpoint drops tombstones and superseded row versions, so
    * `rows_scanned_after` < `rows_scanned_before` whenever history
    * was actually folded). The oracle re-derives BOTH stores' values
    * from the raw table, so the driver's hash gate proves the
    * physical rewrite end-to-end.
    *
    * Scale: both audits are the [[tableTimetravel]] shape — a ≤
    * n_versions fan-out of increment-sized deltas into one keyed
    * rank + a map-side-combined fold; the checkpoint write itself is
    * one latest-wins pass over the history it retires. */
  private def tableVacuum(s: SparkSession, d: String) = {
    import s.implicits._
    val pre = ttVacAudit(s.read.parquet(s"${ttStage(s, d)}/delta"))
      .withColumnRenamed("n_rows", "pre_rows")
      .withColumnRenamed("content_sum", "pre_sum")
      .withColumnRenamed("n_scanned", "rows_scanned_before")
    val post = ttVacAudit(s.read.parquet(s"${ttVacStage(s, d)}/delta"))
      .withColumnRenamed("n_scanned", "rows_scanned_after")
    post.join(pre, "version")
      .select($"version".cast("int").as("version"),
        $"n_rows", $"content_sum",
        ($"n_rows" === $"pre_rows" && $"content_sum" === $"pre_sum")
          .as("digest_match"),
        $"rows_scanned_before", $"rows_scanned_after")
      .orderBy($"version")
  }

  /** Oracle twin of [[tableVacuum]]: the checkpoint is re-derived as
    * the live set at the cutoff, the vacuumed commit log re-assembled
    * from it, and both audits replayed from the raw table. */
  private def tvOracle: String = {
    val digest = hash60Sql(
      "CAST(doc_id AS VARCHAR) || '|' || text || '|' || source")
    def audit(rel: String, p: String): String =
      s"""${p}vis AS (
         |  SELECT d.*, t.sv,
         |    ROW_NUMBER() OVER (PARTITION BY t.sv, d.doc_id
         |      ORDER BY d.version DESC) AS rn
         |  FROM $rel d JOIN range($VacCutoff, 3) t(sv) ON d.version <= t.sv
         |),
         |${p}live AS (
         |  SELECT sv, COUNT(*) AS n_rows,
         |    CAST(SUM($digest % $TtDigestMod) AS BIGINT) AS content_sum
         |  FROM ${p}vis WHERE rn = 1 AND op = 'upsert' GROUP BY sv
         |),
         |${p}scan AS (
         |  SELECT sv, COUNT(*) AS n_scanned FROM ${p}vis GROUP BY sv
         |)""".stripMargin
    s"""WITH $ttDeltasSql,
       |${audit("deltas", "a")},
       |ck AS (
       |  SELECT doc_id, text, source, 'upsert' AS op,
       |    $VacCutoff AS version
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |          ORDER BY version DESC) AS crn
       |        FROM deltas WHERE version <= $VacCutoff) c
       |  WHERE crn = 1 AND op = 'upsert'
       |),
       |vdeltas AS (
       |  SELECT doc_id, text, source, op, version FROM ck
       |  UNION ALL
       |  SELECT doc_id, text, source, op, version FROM deltas
       |  WHERE version > $VacCutoff
       |),
       |${audit("vdeltas", "b")}
       |SELECT CAST(b.sv AS INT) AS version,
       |  b.n_rows, b.content_sum,
       |  (b.n_rows = a.n_rows AND b.content_sum = a.content_sum)
       |    AS digest_match,
       |  a2.n_scanned AS rows_scanned_before,
       |  b2.n_scanned AS rows_scanned_after
       |FROM blive b JOIN bscan b2 USING (sv)
       |JOIN alive a USING (sv) JOIN ascan a2 USING (sv)
       |ORDER BY version""".stripMargin
  }

  /** Per-commit rows of the store classified against each key's own
    * PRIOR commit state (spec hook, and [[tableChanges]]'s core): one
    * LAG over the (key, version) order — the previous delta for a key
    * IS its latest-wins state at v−1, because a key appears at most
    * once per commit. */
  private[graft] def ttChangeRows(s: SparkSession, d: String) = {
    import s.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"version".asc)
    s.read.parquet(s"${ttStage(s, d)}/delta")
      .withColumn("prev_op", lag($"op", 1).over(w))
      .withColumn("change_type",
        when($"op" === "delete",
          when($"prev_op" === "upsert", "delete").otherwise("delete_noop"))
          .otherwise(when($"prev_op" === "upsert", "update")
            .otherwise("insert")))
  }

  /** Change-data-feed read over the commit-versioned store — the
    * Delta/Iceberg `table_changes` / readChangeFeed shape (Armbrust
    * et al., VLDB 2020, "Delta Lake" §4.4) completing the family's
    * read side: [[tableTimetravel]] answers "what did the table look
    * like at v", this answers "what CHANGED at v" — the feed an
    * incremental consumer (downstream materialization, cache
    * invalidator, CDC relay) actually tails. Classification is
    * [[ttChangeRows]]'s LAG against the key's prior commit: `insert`
    * (first appearance, or an upsert landing on a deleted key — the
    * resurrect case surfaces as an insert, exactly how a CDF reports
    * it), `update` (upsert over a live key), `delete` (tombstone over
    * a live key), `delete_noop` (tombstone over an already-dead key,
    * emitted so a replayer can prove it dropped nothing). Per
    * (version, change_type): row count, key digest, and post-image
    * content digest ([[TtDigestMod]] arithmetic) — the granularity a
    * consumer reconciles against [[tableTimetravel]]'s audit rows.
    *
    * Scale: ONE key-keyed shuffle for the LAG over increment-sized
    * deltas — the feed costs the change history, never
    * n_versions × corpus — then a map-side-combined fold to a
    * (versions × 4)-bounded artifact. */
  private def tableChanges(s: SparkSession, d: String) = {
    import s.implicits._
    ttChangeRows(s, d)
      .groupBy($"version".cast("int").as("version"), $"change_type")
      .agg(count(lit(1)).as("n_changes"),
        sum($"doc_id" % TtDigestMod).as("key_sum"),
        sum(when($"op" === "upsert",
          hash60(concat_ws("|", $"doc_id", $"text", $"source"))
            % TtDigestMod).otherwise(0L)).as("post_sum"))
      .orderBy($"version", $"change_type")
  }

  /** Oracle twin of [[tableChanges]]: the same LAG classification over
    * the re-derived commit log. */
  private def tcOracle: String =
    s"""WITH $ttDeltasSql,
       |cls AS (
       |  SELECT version, doc_id, text, source, op,
       |    LAG(op) OVER (PARTITION BY doc_id ORDER BY version) AS prev_op
       |  FROM deltas
       |)
       |SELECT CAST(version AS INT) AS version,
       |  CASE WHEN op = 'delete' AND prev_op = 'upsert' THEN 'delete'
       |       WHEN op = 'delete' THEN 'delete_noop'
       |       WHEN prev_op = 'upsert' THEN 'update'
       |       ELSE 'insert' END AS change_type,
       |  COUNT(*) AS n_changes,
       |  CAST(SUM(doc_id % $TtDigestMod) AS BIGINT) AS key_sum,
       |  CAST(SUM(CASE WHEN op = 'upsert' THEN ${hash60Sql(
             "CAST(doc_id AS VARCHAR) || '|' || text || '|' || source")}
       |    % $TtDigestMod ELSE 0 END) AS BIGINT) AS post_sum
       |FROM cls
       |GROUP BY 1, 2
       |ORDER BY version, change_type""".stripMargin

  private def ttBatchSql(v: Int): String =
    s"""SELECT
       |    CASE WHEN (doc_id + $v) % 3 = 2
       |         THEN doc_id + CAST($v AS BIGINT) * $TtInsertOffset
       |         ELSE doc_id END AS doc_id,
       |    CASE WHEN (doc_id + $v) % 3 = 0 THEN NULL
       |         WHEN (doc_id + $v) % 3 = 1 THEN text || ' [tt v$v]'
       |         ELSE text END AS text,
       |    source,
       |    CASE WHEN (doc_id + $v) % 3 = 0 THEN 'delete'
       |         ELSE 'upsert' END AS op,
       |    $v AS version
       |  FROM documents
       |  WHERE ${hash60Sql(s"'tt$v:' || doc_id")} % 10 = 0""".stripMargin

  /** The commit log re-derived from the raw table — shared CTE of the
    * [[tableTimetravel]] and [[tableChanges]] oracles. */
  private def ttDeltasSql: String =
    s"""deltas AS (
       |  SELECT doc_id, text, source, 'upsert' AS op, 0 AS version
       |  FROM documents
       |  UNION ALL
       |  ${ttBatchSql(1)}
       |  UNION ALL
       |  ${ttBatchSql(2)}
       |)""".stripMargin

  /** Oracle twin of [[tableTimetravel]]: batches re-derived from the
    * raw table, replay re-spelled as the same visible-version expand +
    * latest-wins window + per-snapshot fold. */
  private def ttOracle: String =
    s"""WITH $ttDeltasSql,
       |vis AS (
       |  SELECT d.*, t.sv,
       |    ROW_NUMBER() OVER (PARTITION BY t.sv, d.doc_id
       |      ORDER BY d.version DESC) AS rn
       |  FROM deltas d CROSS JOIN range(0, 3) t(sv)
       |  WHERE d.version <= t.sv
       |),
       |actions AS (
       |  SELECT version, COUNT(*) AS n_actions FROM deltas GROUP BY version
       |)
       |SELECT CAST(l.sv AS INT) AS version,
       |  a.n_actions,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN l.doc_id >= $TtInsertOffset THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_inserted,
       |  CAST(SUM(${hash60Sql(
             "CAST(l.doc_id AS VARCHAR) || '|' || l.text || '|' || l.source")}
       |    % $TtDigestMod) AS BIGINT) AS content_sum
       |FROM vis l JOIN actions a ON a.version = l.sv
       |WHERE l.rn = 1 AND l.op = 'upsert'
       |GROUP BY l.sv, a.n_actions
       |ORDER BY version""".stripMargin

  val defs: Seq[OpDef] = Seq(
    OpDef("layout_zorder", layoutZorder _,
      s"""WITH keyed AS (
         |  SELECT CAST(l_partkey % $ZTile AS INT) AS x,
         |    CAST(l_suppkey % $ZTile AS INT) AS y
         |  FROM lineitem
         |),
         |z AS (SELECT x, y, ${zvalSql("x", "y")} AS zval FROM keyed)
         |SELECT CAST(zval // $ZTile AS INT) AS tile, COUNT(*) AS n_rows,
         |  MAX(x) - MIN(x) AS x_span, MAX(y) - MIN(y) AS y_span
         |FROM z GROUP BY tile ORDER BY tile""".stripMargin),
    OpDef("scan_parquet", scanParquet _,
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_acctbal > 0.0 ORDER BY s_suppkey""".stripMargin),
    OpDef("csv_roundtrip", csvRoundtrip _,
      """SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation ORDER BY CAST(n_nationkey AS INT)""".stripMargin),
    OpDef("scan_schema_evolution", scanSchemaEvolution _,
      """SELECT CAST(1 AS INT) AS v, COUNT(*) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_with_nation,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS total_acctbal
        |FROM supplier
        |UNION ALL
        |SELECT CAST(2 AS INT) AS v, COUNT(*) AS n_rows,
        |  COUNT(s_nationkey) AS n_with_nation,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(27,6))) AS DOUBLE) AS total_acctbal
        |FROM supplier
        |ORDER BY v""".stripMargin),
    OpDef("ctas_stage", ctasStage _,
      """SELECT n_nationkey, n_name, COUNT(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_nationkey, n_name
        |ORDER BY n_nationkey""".stripMargin),
    OpDef("json_roundtrip", jsonRoundtrip _,
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin),
    OpDef("orc_roundtrip", orcRoundtrip _,
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier
        |ORDER BY s_suppkey""".stripMargin),
    OpDef("snapshot_diff", snapshotDiff _, snapshotDiffOracle),
    OpDef("table_timetravel", tableTimetravel _, ttOracle),
    OpDef("table_changes", tableChanges _, tcOracle),
    OpDef("table_vacuum", tableVacuum _, tvOracle),
    OpDef("merge_into", mergeInto _, mergeIntoOracle),
    OpDef("merge_into_delete", mergeIntoDelete _, mergeIntoDeleteOracle),
    OpDef("merge_into_evolve", mergeIntoEvolve _, mergeEvolveOracle),
    OpDef("layout_zonemap", layoutZonemap _, zonemapOracle),
    OpDef("layout_compaction", layoutCompaction _, layoutCompactionOracle),
    OpDef("layout_compaction_exec", layoutCompactionExec _,
      layoutCompactionExecOracle),
    OpDef("sink_partitioned", sinkPartitioned _,
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS o_month,
        |  o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS total_price
        |FROM orders
        |WHERE year(o_orderdate) * 100 + month(o_orderdate) IN (199501, 199502, 199503)
        |GROUP BY 1, 2
        |ORDER BY o_month, o_orderstatus""".stripMargin)
  )
}
