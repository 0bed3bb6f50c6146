package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import scala.collection.concurrent.TrieMap

/** Local diagnosis tool: runs one catalog query and aggregates stage
  * wall-clock by the stage's callsite, so op cost attributes to source
  * lines. Not part of the driver contract. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = if (args.nonEmpty) args(0) else "graph_leiden"
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val acc = TrieMap.empty[String, (Double, Int)]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (!record) return
        val si = sc.stageInfo
        val dur = (for {
          t0 <- si.submissionTime; t1 <- si.completionTime
        } yield (t1 - t0) / 1e3).getOrElse(0.0)
        // first graft line in the stage details (stack trace)
        val site = si.details.linesIterator
          .find(l => l.contains("graft.ops") || l.contains("graft.expressions"))
          .map(_.trim.replaceAll("^at ", "")).getOrElse(si.name)
        val (d, c) = acc.getOrElse(site, (0.0, 0))
        acc(site) = (d + dur, c + 1)
      }
    })
    // warm run first, record the second
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sfDir).count()
    spark.catalog.clearCache()
    record = true
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    record = false
    println(f"TOTAL warm $total%7.2f s; stage time by callsite:")
    acc.toSeq.sortBy { case (_, (d, _)) => -d }.take(40).foreach {
      case (site, (d, c)) =>
        println(f"  ${d}%8.3f s  ($c%3d stages)  $site")
    }
    spark.stop()
  }
}
