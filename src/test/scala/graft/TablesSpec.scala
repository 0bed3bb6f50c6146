package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The table loader's schema cache: a table's footer is inferred once
  * per file version and inference conf, and a missing table still
  * fails as a plain parquet read does. */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  private def tempDir(): String = Files.createTempDirectory("graft_tables_").toString

  /** Spark jobs that `body` starts. Listener events arrive in order, so
    * once a marker job run after `body` is seen, all of its jobs are. */
  private def jobsOf(body: => Unit): Int = {
    val descriptions = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("tables-spec-marker")
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      Iterator.continually(descriptions.poll(60, TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != "tables-spec-marker").size
    } finally sc.removeSparkListener(listener)
  }

  test("a second load of the same file starts no Spark job") {
    val dir = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(jobsOf(Tables.load(spark, dir, "t")) > 0)
    assert(jobsOf(Tables.load(spark, dir, "t")) === 0)
    assert(Tables.load(spark, dir, "t").count() === 2)
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = tempDir()
    Seq(1L).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("k"))
    Seq(("x", 2.0)).toDF("name", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables.load(spark, dir, "t")
    assert(t.columns.toSeq === Seq("name", "w"))
    assert(t.as[(String, Double)].collect().toSeq === Seq(("x", 2.0)))
  }

  test("binaryAsString is part of the cache key") {
    // an un-annotated BINARY column with no Spark schema in the footer,
    // so the conf decides between BINARY and STRING
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val out = HadoopOutputFile.fromPath(
      new Path(s"$dir/t.parquet"), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x")) finally w.close()
    def bType = Tables.load(spark, dir, "t").schema("b").dataType
    assert(bType === BinaryType)
    ops.SmallData.withConf(spark, "spark.sql.parquet.binaryAsString" -> "true") {
      assert(bType === StringType)
    }
    assert(bType === BinaryType)
  }

  test("a missing table fails with Spark's PATH_NOT_FOUND") {
    val e = intercept[AnalysisException](Tables.load(spark, tempDir(), "no_such_table"))
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
  }
}
