package graft

import ops.SmallData

/** Both sides of the small-data gate ([[ops.SmallData]]). The testdata
  * is far below every threshold, so the catalog and the oracle only
  * ever run the small-data strategy; here each gated entry point also
  * runs forced above its gate and must return the same rows. Either
  * way the op must leave the session's SQL conf as it found it.
  *
  * The store-backed keys (`*_store`, `ann_*_incremental` over a
  * persisted graph) are left out: their stores build once per JVM, so
  * a second call would not run the gated build again. */
class SmallDataSpec extends SparkSpecBase {

  private val gatedKeys = Seq(
    "graph_pagerank_converged",
    "graph_components",
    "graph_components_converged",
    "graph_louvain_step2",
    "graph_louvain",
    "ann_ivf_kmeans_scalable",
    "ann_ivfpq_kmeans",
    "knn_graph_refined",
    "ann_graph_search",
    "ann_hnsw")

  private def rowsOf(key: String): Seq[String] = {
    val before = spark.conf.getAll
    val rows = SparkEntry.queries(key)(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    assert(spark.conf.getAll === before, s"$key changed the session conf")
    spark.catalog.clearCache()
    rows
  }

  test("forcingLarge puts every gate above its threshold") {
    assert(SmallData.graph(spark, 10L).small)
    assert(SmallData.louvain(spark, 10L).small)
    assert(SmallData.corpus(spark, 10L).small)
    SmallData.forcingLarge {
      assert(!SmallData.graph(spark, 10L).small)
      assert(!SmallData.louvain(spark, 10L).small)
      assert(!SmallData.corpus(spark, 10L).small)
    }
    assert(SmallData.graph(spark, 10L).small)
  }

  for (key <- gatedKeys)
    test(s"$key returns the same rows above the gate as below it") {
      val small = rowsOf(key)
      val large = SmallData.forcingLarge(rowsOf(key))
      assert(small.nonEmpty, s"$key returned no rows")
      assert(large === small)
    }

  test("withConf restores set keys and unsets unset keys when the body throws") {
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = "spark.sql.codegen.wholeStage"
    val before = spark.conf.getAll
    assert(before.contains(setKey))
    assert(!before.contains(unsetKey))
    val e = intercept[IllegalStateException] {
      SmallData.withConf(spark, setKey -> "7", unsetKey -> "false") {
        assert(spark.conf.get(setKey) === "7")
        assert(spark.conf.get(unsetKey) === "false")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(spark.conf.getAll === before)
  }
}
