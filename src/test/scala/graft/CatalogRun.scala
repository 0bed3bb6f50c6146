package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.types.StructType

/** Each catalog key's result over a data dir (the specs' sf0.001),
  * computed once per test JVM.
  *
  * Specs that read a key only for its rows, its columns or its
  * executed plan take them from here instead of running the key again;
  * a spec that needs a second, independent run (forced above the
  * small-data gate, a tampered store, another data dir, a fresh plan)
  * still calls `SparkEntry.queries` itself.
  *
  * The memo keeps no DataFrame, so it pins no checkpoint; the cache is
  * cleared after every run. A key that throws is remembered as its
  * failure and rethrown to every reader. */
object CatalogRun {

  /** One run of a key: whether the executed plan, as built before the
    * action, holds a cartesian product; the collected result; and the
    * session conf around the run. */
  final case class Record(cartesian: Boolean, schema: StructType, rows: Seq[Row],
      confBefore: Map[String, String], confAfter: Map[String, String]) {

    /** Conf keys the run added, removed or changed, as `k: before -> after`. */
    def confDiff: Seq[String] =
      (confBefore.keySet ++ confAfter.keySet).toSeq.sorted
        .filter(k => confBefore.get(k) != confAfter.get(k))
        .map(k => s"$k: ${confBefore.get(k)} -> ${confAfter.get(k)}")
  }

  private val memo = mutable.Map.empty[(String, String), Try[Record]]

  /** The run of catalog key `key` over data dir `sf`. */
  def apply(spark: SparkSession, sf: String, key: String): Record =
    memo.synchronized(
      memo.getOrElseUpdate((sf, key), Try(run(spark, sf, key)))).get

  /** The key's result as a local DataFrame. */
  def frame(spark: SparkSession, sf: String, key: String): DataFrame = {
    val r = apply(spark, sf, key)
    spark.createDataFrame(r.rows.asJava, r.schema)
  }

  private def run(spark: SparkSession, sf: String, key: String): Record = {
    require(ops.SmallData.graph(spark, 0L).small,
      s"CatalogRun($key) records the below-gate run: call it outside SmallData.forcingLarge")
    val before = spark.conf.getAll
    try {
      val df = SparkEntry.queries(key)(spark, sf)
      val cartesian = hasCartesian(df.queryExecution.executedPlan)
      val rows = df.collect().toSeq
      Record(cartesian, df.schema, rows, before, spark.conf.getAll)
    } finally spark.catalog.clearCache()
  }

  /** Whether `p` or any plan inside it is a [[CartesianProductExec]].
    * Besides children the walk follows `innerChildren` (subqueries, a
    * cached relation's plan) and the plans AQE holds outside the tree:
    * its current plan and each query stage's plan. */
  private def hasCartesian(p: TreeNode[_]): Boolean = p match {
    case _: CartesianProductExec => true
    case a: AdaptiveSparkPlanExec => hasCartesian(a.executedPlan)
    case q: QueryStageExec => hasCartesian(q.plan)
    case _ => (p.children ++ p.innerChildren).exists { case c: TreeNode[_] => hasCartesian(c) }
  }
}
