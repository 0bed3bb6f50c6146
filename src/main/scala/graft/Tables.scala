package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet testdata (`TESTDATA.md`).
  *
  * One parquet file per table under `sfDir`. Parquet is the engine's
  * native scan path: Catalyst pushes predicates and prunes columns at
  * the file-source level, so callers should express filters/projections
  * declaratively and let the scan do the minimum IO — at 100 TB this is
  * the difference between touching one column chunk and the whole file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped as several parquet physical types across
    * testdata drops; normalize all of them to Spark TimestampType so
    * every downstream operator (`unix_micros`, watermarks, window
    * ranges) sees one stable type:
    *   - TIMESTAMP(MICROS) isAdjustedToUTC=false (current drop) —
    *     reads as TIMESTAMP_NTZ; cast to TIMESTAMP. The session TZ is
    *     pinned UTC in every entrypoint, so the cast reinterprets the
    *     same micros value with zero offset (DuckDB reads the file
    *     natively, so oracle parity holds).
    *   - TIMESTAMP(NANOS) (older drops) — Spark 4 rejects it outright,
    *     so only then read it as a raw nanos long via the legacy conf
    *     (left set: the scan reads it again at execution) and convert
    *     with integer division (`div`, not `/`: double division loses
    *     precision on ~1.7e18 nanos values; DuckDB truncates ns→µs the
    *     same way).
    * Branching on the footer type per load means one regenerated file
    * can't silently break every events-reading operator again. */
  def events(s: SparkSession, d: String): DataFrame =
    eventsVia(s, d)(s.read.schema(_).parquet(s"$d/events.parquet"))

  /** [[events]] through any reader of the events file (batch or
    * stream), given the file's schema. */
  private[graft] def eventsVia(s: SparkSession, d: String)(
      read: StructType => DataFrame): DataFrame = {
    val path = s"$d/events.parquet"
    val schema = try s.read.parquet(path).schema catch {
      case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        s.read.parquet(path).schema
    }
    val raw = read(schema)
    schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected TIMESTAMP, TIMESTAMP_NTZ, or legacy nanos LONG")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
