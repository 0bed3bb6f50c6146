package graft

import org.apache.spark.sql.functions._

/** Pins `graph_leiden`'s two guarantees over `graph_louvain` at equal
  * round/level bounds (the arXiv:1810.08473 contract):
  *   - modularity: q_final ≥ Louvain's, with an identical level-1
  *     trace (both run the same gated singleton move rounds first);
  *   - connectivity: NO emitted community is internally disconnected
  *     (checked by running the refinement diagnosis over the output
  *     labels — zero split rows), the defect Louvain is allowed.
  */
class GraphLeidenSpec extends SparkSpecBase {

  test("q_final beats louvain's at equal bounds; level-1 trace identical") {
    val le = CatalogRun.frame(spark, sf, "graph_leiden")
      .select("q_level1", "q_level2", "q_level3", "q_final").head
    val lo = CatalogRun.frame(spark, sf, "graph_louvain")
      .select("q_level1", "q_level2", "q_final").head
    assert(le.getDouble(0) === lo.getDouble(0),
      "level 1 is the same gated singleton phase in both algorithms")
    assert(le.getDouble(3) >= lo.getDouble(2),
      s"leiden q_final ${le.getDouble(3)} < louvain ${lo.getDouble(2)}")
    // the gated trajectory never decreases across levels
    assert(le.getDouble(0) <= le.getDouble(1)
      && le.getDouble(1) <= le.getDouble(2)
      && le.getDouble(2) <= le.getDouble(3) + 1e-12)
  }

  test("no emitted community is internally disconnected") {
    val labels = ops.Graph.leidenLabelsForSpec(spark, sf)
    val diag = ops.Graph.leidenRefineOf(spark,
      ops.Graph.coOrderEdges(spark, sf), labels)
    assert(diag.filter(col("split")).count() === 0,
      "leiden output must contain only connected communities")
  }

  test("stats are the graph_louvain fold over the leiden partition") {
    val out = CatalogRun.frame(spark, sf, "graph_leiden").cache()
    // per-community contribution sums to q_final (quantization slack)
    val sum = out.agg(org.apache.spark.sql.functions.sum(col("contribution")))
      .head.getDouble(0)
    val qf = out.select("q_final").head.getDouble(0)
    assert(math.abs(sum - qf) < 1e-3, s"Σcontribution $sum vs q_final $qf")
    out.unpersist()
  }
}
