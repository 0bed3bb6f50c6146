package graft

/** Plan hygiene audit: one line per catalog query with the physical
  * operators that matter at scale — exchanges (shuffles), global
  * sorts, cartesian products, broadcast joins, and the widest parquet
  * read schema. Run ad hoc while iterating; the numbers make plan
  * regressions (a lost pushdown, a surprise cartesian) visible
  * without reading 68 full explain dumps.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).length
        val scans = "ReadSchema: struct<([^>]*)"
          .r.findAllMatchIn(plan).map(_.group(1).count(_ == ',') + 1).toSeq
        println(f"$name%-22s exch=${n("Exchange")}%2d sortGlobal=${n("Sort \\[.*global=true")}%d " +
          f"cartesian=${n("CartesianProduct")}%d bcast=${n("BroadcastHashJoin|BroadcastNestedLoop")}%2d " +
          s"scanCols=${scans.mkString(",")}")
      } catch { case e: Throwable => println(s"$name AUDIT-FAIL ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
