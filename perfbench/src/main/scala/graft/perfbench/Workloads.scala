package graft.perfbench

import graft.ops

/** The benchmark's workloads: each is a fixed set of catalog keys,
  * named by module where a whole module fits the time budget. */
object Workloads {

  private def keysOf(defs: Seq[ops.OpDef]*): Seq[String] =
    defs.flatten.map(_.name)

  /** Each workload's warm pass is held to about three seconds at the
    * bench scale, so that a run (three set-ups, a cold pass, at least two
    * warm passes and the check pass) stays under a minute. */
  val all: Map[String, Seq[String]] = Map(
    // short reads with no loops and no staging: the catalog's flagship
    // cohort query, projections and filters, pivot and unpivot
    "relational" -> keysOf(ops.Cohorts.defs, ops.Filters.defs, ops.Reshape.defs),
    // writes: CTAS and MERGE INTO, plus streams with aggregation state and
    // update-mode (CDC) state commits
    "ingest_write" -> Seq("ctas_stage", "merge_into", "stream_tumbling",
      "stream_cdc"),
  )

  /** The workload's keys, sorted; a key missing from the catalog is a
    * benchmark error, never a skipped key. */
  def keys(workload: String): Seq[String] = {
    val ks = all.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'; " +
        s"known: ${all.keys.toSeq.sorted.mkString(", ")}"))
    val missing = ks.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"workload '$workload' names keys absent from SparkEntry.queries: " +
        missing.mkString(", "))
    ks.distinct.sorted
  }

  /** Pass `pass`'s key order: a permutation fixed by (seed, pass), so two
    * builds given the same seed run keys in the same order. */
  def order(keys: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(keys)
}
