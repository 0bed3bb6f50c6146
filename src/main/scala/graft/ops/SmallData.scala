package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.broadcast

/** The small-data execution policy of the loop operators (Graph,
  * Similarity): don't pay distributed overhead for data that fits in
  * one process — the DuckDB argument (Raasveldt & Mühleisen, SIGMOD
  * 2019) applied per operator, from the size it observes.
  *
  * Below a threshold a loop's dozens of tiny stages are priced by
  * orchestration, not data: per-exchange AQE stage jobs, per-stage
  * whole-stage-codegen compiles (fresh round literals defeat the
  * codegen cache) and a shuffle-partition floor sized for the
  * cluster. There a loop runs with size-scaled shuffle partitions,
  * AQE and/or codegen off, and explicit broadcasts on its
  * batch-bounded sides (staged leaves carry no size stats, so the
  * static planner would otherwise sort-merge them). Above the
  * threshold nothing changes. Results are identical either way — the
  * same contract as AQE: pick the physical strategy from the observed
  * size, never change the answer. */
private[graft] object SmallData {

  /** Graph loops take the small-data strategy below this many edges. */
  val GraphEdges = 20000000L

  /** Vector index builds and walks take it below this many vectors. */
  val CorpusVecs = 1000000L

  private val forceLarge = new DynamicVariable(false)

  /** Test seam: run `f` as if every input were above its threshold, so
    * specs can compare both strategies on small data. */
  private[graft] def forcingLarge[T](f: => T): T =
    forceLarge.withValue(true)(f)

  /** The size test. */
  private def below(n: Long, threshold: Long): Boolean =
    !forceLarge.value && n < threshold

  /** One loop's decision: whether it runs small, the conf overrides it
    * runs under, and the width its staged leaves coalesce to. */
  final class Gate private[SmallData] (s: SparkSession, val small: Boolean,
      confs: Seq[(String, String)], stageWidth: Option[Int]) {

    /** Broadcast `df` into its join when the loop runs small. */
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df

    /** Run `f` under this gate's conf overrides. Callers must
      * materialize their output inside. */
    def withConfs[T](f: => T): T = withConf(s, confs: _*)(f)

    /** Run `f` with a fresh [[Stager]] that narrows leaves to this
      * gate's width, closed on exit. */
    def staging[T](f: Stager => T): T = {
      val st = new Stager(stageWidth)
      try f(st) finally st.close()
    }
  }

  private def parallelism(s: SparkSession): Long =
    s.sparkContext.defaultParallelism.toLong

  /** ~200k edges per shuffle partition, floored at 8, capped at the
    * parallelism. */
  private[graft] def graphPartitions(s: SparkSession, edges: Long): Int =
    math.max(8L, math.min(parallelism(s), edges / 200000L)).toInt

  /** ~10k vectors per shuffle partition, floored at 8, capped at the
    * parallelism. */
  private def corpusPartitions(s: SparkSession, vecs: Long): Int =
    math.max(8L, math.min(parallelism(s), vecs / 10000L)).toInt

  /** Width of the vector loops' staged leaves below the gate: state
    * frames there are KB-to-MB-sized but inherit the shuffle-partition
    * layout (floor 8), so every downstream stage and broadcast collect
    * over a leaf pays one task launch per partition for bytes of data
    * — measured on `ann_hnsw` at sf0.1 (2k vectors): 88 jobs whose
    * inputs are 1-task stages read 13.4 → 10.6 s warm. The width
    * scales with the corpus (~50k vectors per partition, capped at
    * the parallelism) so a near-gate corpus still stages wide. */
  private def stgWidth(s: SparkSession, vecs: Long): Int =
    math.max(1L, math.min(parallelism(s), vecs / 50000L)).toInt

  /** Graph loops over `edges` edges (PageRank, components): AQE off —
    * its per-exchange stage jobs were 12.2 s of a 13.7 s PageRank run
    * — with edge-scaled partitions. Codegen stays on: the loops are
    * |E|-row passes, where compiled row throughput wins. */
  def graph(s: SparkSession, edges: Long): Gate = {
    val small = below(edges, GraphEdges)
    new Gate(s, small,
      if (small) Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> graphPartitions(s, edges).toString)
      else Seq.empty,
      None)
  }

  /** Louvain/Leiden move phases over `edges` edges: interpreted (the
    * per-stage codegen compile dominates their dozens of |V|-sized
    * stages) with edge-scaled partitions; AQE's partition coalescing
    * favours parallelism on either side of the gate. */
  def louvain(s: SparkSession, edges: Long): Gate = {
    val small = below(edges, GraphEdges)
    new Gate(s, small,
      Seq("spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
        "true") ++
      (if (small) Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.shuffle.partitions" -> graphPartitions(s, edges).toString)
       else Seq.empty),
      None)
  }

  /** Vector index builds and walks over `vecs` vectors: interpreted,
    * AQE off — with partitions pinned corpus-scaled there is nothing
    * left for it to coalesce, and its per-exchange stage-job
    * submission is the floor these loops pay ~70 times per run — with
    * corpus-scaled partitions and staged leaves narrowed to
    * [[stgWidth]] (measured on `ann_hnsw` at sf0.1: 192 warm jobs
    * summing 16.7 s, none over 0.6 s). */
  def corpus(s: SparkSession, vecs: Long): Gate = {
    val small = below(vecs, CorpusVecs)
    new Gate(s, small,
      if (small) Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> corpusPartitions(s, vecs).toString)
      else Seq.empty,
      if (small) Some(stgWidth(s, vecs)) else None)
  }

  /** Run `f` under temporary SQL conf overrides. On exit — normal or
    * thrown — a key that was set gets its previous value back and a
    * key that was not set is unset again. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val set = s.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Materialize a loop's RETURNED frame as a localCheckpoint with AQE
    * re-enabled for that one terminal query: a checkpoint taken under
    * a static (AQE-off) plan records the plan's output ordering and
    * partitioning attribute by attribute, and a consumer that caches
    * the result and references it twice (a self-join) crashes
    * InMemoryRelation's output rebinding ("key not found: ..."). An
    * adaptive capture records no static metadata. One extra tiny job. */
  def finalCheckpoint(df: DataFrame): DataFrame =
    withConf(df.sparkSession, "spark.sql.adaptive.enabled" -> "true") {
      df.localCheckpoint()
    }

  /** Free a localCheckpointed frame's blocks. Callers must have
    * materialized everything they return first — a truncated frame
    * cannot recompute. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Cuts a loop's logical lineage WITHOUT running a job: each staged
    * frame becomes a lazy `localCheckpoint` leaf (materialized by its
    * first consuming action), optionally coalesced first. Without
    * leaves, chained round plans re-expand their shared subtrees
    * during Catalyst transforms — the driver OOM'd ANALYZING a 6-round
    * Louvain chain — and with plain caches every action still
    * canonicalizes the whole chain against the cache registry. Unlike
    * `.cache()`, a leaf also survives a `clearCache()` between
    * queries, so the stager keeps every leaf until it is closed. */
  final class Stager private[SmallData] (width: Option[Int])
      extends (DataFrame => DataFrame) {
    private val frames = ArrayBuffer.empty[DataFrame]

    def apply(df: DataFrame): DataFrame = {
      val out = width.fold(df)(df.coalesce).localCheckpoint(eager = false)
      frames += out
      out
    }

    /** [[release]] every staged leaf. */
    def close(): Unit = {
      frames.foreach(SmallData.release)
      frames.clear()
    }
  }

  /** A stager that keeps leaves at their natural width, for loops
    * whose leaves outlive the call that stages them. */
  def stager(): Stager = new Stager(None)
}
