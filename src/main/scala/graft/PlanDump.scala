package graft

/** Dump `.explain("formatted")` for the named catalog queries to
  * stdout and (when `GRAFT_PLAN_DIR` is set) one file per query —
  * the plans/r17 evidence files (scratch tool). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "")
    val outDir = sys.env.get("GRAFT_PLAN_DIR")
    val spark = SparkEntry.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"===== $name =====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(txt)
      outDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"$name$suffix.txt"),
          txt.getBytes("UTF-8"))
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
