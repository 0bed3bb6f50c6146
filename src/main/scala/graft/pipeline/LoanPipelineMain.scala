package graft.pipeline

/** CLI driver for the loan ETL:
  * `runMain graft.pipeline.LoanPipelineMain <applications.csv> <lms.csv> <outDir>`
  * — the engine analogue of `python pipeline.py` in the reference. */
object LoanPipelineMain {
  def main(args: Array[String]): Unit = {
    val Array(appsCsv, lmsCsv, outDir) = args
    val spark = graft.SparkEntry.localSession()
    val counts = LoanPipeline.run(spark, appsCsv, lmsCsv, outDir)
    println(s"[loan-pipeline] cleaned_applications=${counts("cleaned_applications")} " +
      s"loan_portfolio=${counts("loan_portfolio")} quarantined=${counts("quarantined")}")
    spark.stop()
  }
}
