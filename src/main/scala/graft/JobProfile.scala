package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageSubmitted}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap

/** Local diagnosis tool: runs catalog queries with a per-job listener,
  * printing each Spark job's wall-clock and callsite so we can see
  * whether an op's cost is job-count orchestration floor or data
  * movement, and after each run the total count of jobs started and
  * stages submitted. Args: a comma-separated key list (default
  * `graph_leiden`) and the runs per key (default 2). Not part of the
  * driver contract. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = (if (args.nonEmpty) args(0) else "graph_leiden").split(",")
    val runs = if (args.length > 1) args(1).toInt else 2
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = TrieMap.empty[Int, (Long, String)]
    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = js.properties match {
          case null => ""
          case p => Option(p.getProperty("callSite.short")).getOrElse("")
        }
        starts(js.jobId) = (System.nanoTime(), site)
      }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        starts.get(je.jobId).foreach { case (t0, site) =>
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec > 0.02)
            println(f"  job ${je.jobId}%4d ${sec}%7.3f s  $site")
        }
      }
    })
    for (name <- names; i <- 1 to runs) {
      spark.catalog.clearCache()
      println(s"=== run $i of $name ===")
      jobs.set(0)
      stages.set(0)
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // let the listener bus deliver the run's last events
      Thread.sleep(300)
      println(f"TOTAL $sec%7.2f s  rows=$n")
      println(s"jobs=${jobs.get} stages=${stages.get}")
    }
    spark.stop()
  }
}
