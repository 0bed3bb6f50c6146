package graft

import java.io.FileNotFoundException
import scala.collection.concurrent.TrieMap
import org.apache.hadoop.fs.Path
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
  *
  * A table's schema is read from its parquet footer once per JVM and
  * then passed to every read, so a query starts no schema-inference
  * job. The cache key is the qualified path with the modification time
  * and length of every file under it, plus the session confs that
  * change parquet schema inference: a rewritten file or a flipped conf
  * is inferred afresh, never served a stale schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The parquet schema of `path`, inferred on first use. */
  private[graft] def schemaOf(s: SparkSession, path: String): StructType =
    footer(s, path)(Footer(s.read.parquet(path).schema, nanosAsLong = false)).schema

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", nanosAsLong)

  /** A footer's schema, and whether reading it needed [[nanosAsLong]]. */
  private final case class Footer(schema: StructType, nanosAsLong: Boolean)

  private val footers =
    TrieMap.empty[(String, Seq[(String, Long, Long)], Seq[Option[String]]), Footer]

  /** `infer`'s footer of `path`, cached per file version and inference
    * conf. A path that cannot be listed is inferred uncached, so a
    * missing table fails with Spark's own `PATH_NOT_FOUND`. */
  private def footer(s: SparkSession, path: String)(infer: => Footer): Footer = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = try {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getModificationTime, f.getLen)).toVector
    } catch { case _: FileNotFoundException => return infer }
    footers.getOrElseUpdate(
      (fs.makeQualified(p).toString, files, inferenceConfs.map(s.conf.getOption)), infer)
  }

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
    * can't silently break every events-reading operator again. The
    * footer comes from the schema cache, which remembers whether it
    * took the legacy conf, so a cached NANOS file still sets it. */
  def events(s: SparkSession, d: String): DataFrame =
    eventsVia(s, d)(s.read.schema(_).parquet(s"$d/events.parquet"))

  /** [[events]] through any reader of the events file (batch or
    * stream), given the file's schema. */
  private[graft] def eventsVia(s: SparkSession, d: String)(
      read: StructType => DataFrame): DataFrame = {
    val path = s"$d/events.parquet"
    val Footer(schema, nanos) = footer(s, path) {
      try Footer(s.read.parquet(path).schema, nanosAsLong = false) catch {
        case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
          s.conf.set(nanosAsLong, "true")
          Footer(s.read.parquet(path).schema, nanosAsLong = true)
      }
    }
    if (nanos) s.conf.set(nanosAsLong, "true")
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
