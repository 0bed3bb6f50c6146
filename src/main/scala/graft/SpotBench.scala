package graft

/** Local iteration tool: times the given queries (default: the hot
  * [EXT] set) at sf0.1 twice each (cold = plan+codegen+JIT, warm =
  * steady state), clearing the cache between runs like the driver's
  * Bench does. Pass query names as program args to focus. */
object SpotBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ScaleData.checkDir(sfDir)
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val hot = if (args.nonEmpty) args.toSeq
      else Seq("dedup_embedding", "dedup_minhash", "dedup_ngram",
        "dedup_simhash", "ann_bruteforce", "ann_lsh", "dedup_exact")
    // GRAFT_SPOT_RUNS > 2 adds warm repetitions; the MIN of the warm
    // runs is the least-contended estimate on a noisy box.
    val runs = sys.env.getOrElse("GRAFT_SPOT_RUNS", "2").toInt
    hot.foreach { name =>
      val times = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val warm = times.tail
      println(f"$name%-18s cold ${times.head}%6.2f s  warm ${warm.min}%6.2f s" +
        (if (runs > 2) warm.map(t => f"$t%.2f").mkString("  [", " ", "]")
         else ""))
    }
    spark.stop()
  }
}
