package graft

import org.apache.spark.sql.functions._

/** Proves `graph_louvain_step2_store`'s production contract — the
  * graph analogue of LexicalIndexSpec's lexical store: phase-1 labels
  * round-trip through the persisted parquet store bit-identically, the
  * store-fed general phase emits EXACTLY the rows the in-query
  * `graph_louvain_step2` derives, and the store-fed plan attaches the
  * label base from the store's parquet rather than re-deriving it.
  */
class LouvainStoreSpec extends SparkSpecBase {

  test("store content round-trips the live phase-1 labels exactly") {
    val path = ops.Graph.ensureLouvainStore(spark, sf)
    val stored = spark.read.parquet(path)
    val live = ops.Graph.louvainPhase1Labels(
      spark, ops.Graph.coOrderEdges(spark, sf).cache())
    assert(stored.count() === live.count())
    assert(stored.exceptAll(live).isEmpty && live.exceptAll(stored).isEmpty)
  }

  test("store-fed phase 2 equals the in-query op row for row") {
    val inQuery = CatalogRun.frame(spark, sf, "graph_louvain_step2")
    val fromStore = CatalogRun.frame(spark, sf, "graph_louvain_step2_store")
    assert(fromStore.count() === inQuery.count())
    assert(fromStore.exceptAll(inQuery).isEmpty &&
      inQuery.exceptAll(fromStore).isEmpty)
  }

  test("phase 2 really consumes the store: a mutated store shifts output") {
    // Merge two phase-1 communities in a copy of the store; the
    // general phase over the tampered base must disagree with the
    // clean in-query derivation — i.e. the base comes from the store,
    // not from any hidden re-derivation. (The checkpointed output plan
    // hides the parquet scan, so this is the behavioral form of the
    // "reads ONLY the store" plan assertion.)
    val stored = spark.read.parquet(ops.Graph.ensureLouvainStore(spark, sf))
    val two = stored.select(col("label")).distinct()
      .orderBy(col("label")).limit(2).collect().map(_.getLong(0))
    assert(two.length === 2, "fixture needs at least two communities")
    val tampered = stored.select(col("node"),
      when(col("label") === two(0), two(1)).otherwise(col("label"))
        .as("label"))
    val dir = java.nio.file.Files.createTempDirectory("louvtamper").toString
    tampered.write.mode("overwrite").parquet(dir)
    val out = ops.Graph.louvainGeneralPhase(spark,
      ops.Graph.coOrderEdges(spark, sf).cache(),
      spark.read.parquet(dir), moverParity = 1)
    val clean = CatalogRun.frame(spark, sf, "graph_louvain_step2")
    assert(out.exceptAll(clean).count() > 0,
      "tampering with the store must change the phase-2 output")
  }

  test("the label-store op emits the persisted rows in node order") {
    val out = CatalogRun.frame(spark, sf, "graph_louvain_label_store")
    val nodes = out.select(col("node")).collect().map(_.getLong(0))
    assert(nodes.sameElements(nodes.sorted))
    assert(out.columns.toSeq === Seq("node", "label"))
  }
}
