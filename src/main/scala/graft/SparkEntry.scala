package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets a `queries` entry
  * (a DataFrame function over the sfDir parquet tables) and, where the
  * semantics are ANSI-SQL-expressible, an `oracleSql` entry the driver
  * runs in DuckDB over the same tables for a hash-exact compare.
  *
  * Output discipline (SURVEY §7.4): every oracle-checked query ends in a
  * total-order `orderBy`, aliases every computed column identically on
  * both sides, and avoids order-dependent floating-point aggregation
  * (see [[graft.functions.Exact]]).
  */
object SparkEntry {

  /** The full operator catalog, one [[ops.OpDef]] per SURVEY §2 row. */
  private lazy val catalog: Seq[ops.OpDef] =
    ops.Cohorts.defs ++
      ops.Sources.defs ++
      ops.Filters.defs ++
      ops.Joins.defs ++
      ops.Aggregates.defs ++
      ops.Windows.defs ++
      ops.SetSort.defs ++
      ops.Reshape.defs ++
      ops.Scalars.defs ++
      ops.Dedup.defs ++
      ops.Similarity.defs ++
      ops.TextAnalysis.defs ++
      ops.Events.defs ++
      ops.Multimodal.defs ++
      ops.Corpus.defs ++
      ops.Curation.defs ++
      ops.Graph.defs ++
      ops.Diagnostics.defs ++
      ops.RefSql.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Cohorts.q1Cohort(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(op => op.name -> op.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(op => op.oracle.map(op.name -> _)).toMap

  /** The session every main runs on: `local[SPARK_GRAFT_CPUS]`
    * (default 4) with as many shuffle partitions, UTC session time, no
    * UI, and log level WARN. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Respect AQE's advisory partition size instead of maximizing
      // parallelism: small shuffles coalesce to few tasks (the Spark
      // docs' recommended setting; at scale the 64 MB advisory size
      // governs, so this never under-partitions big data).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // event-time bucketing row counts must not depend on the host's
      // default zone
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
