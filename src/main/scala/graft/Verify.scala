package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional third arg: comma-separated name prefixes — run (and dump
    // oracle SQL for) only matching queries. Iteration aid; the driver
    // passes two args and gets the full catalog.
    val keep: String => Boolean = rest.headOption match {
      case Some(p) => n => p.split(",").exists(n.startsWith)
      case None    => _ => true
    }
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // Preflight: surface testdata schema drift as ONE named stderr line
    // instead of dozens of per-query AnalysisExceptions (round-8 lesson:
    // events.ts changed parquet physical type and silently zeroed all 24
    // events-family correctness rows).
    for (t <- Tables.names) {
      try {
        val df = if (t == "events") Tables.events(spark, sfDir)
                 else Tables.load(spark, sfDir, t)
        if (t == "events" &&
            df.schema("ts").dataType != org.apache.spark.sql.types.TimestampType)
          System.err.println(s"[verify][PREFLIGHT] events.ts loads as " +
            s"${df.schema("ts").dataType}, not TIMESTAMP — testdata schema drift; " +
            "fix Tables.events before trusting any events-family row")
      } catch { case e: Throwable =>
        System.err.println(s"[verify][PREFLIGHT] table '$t' failed to load: ${e.getMessage}")
      }
    }
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Output discipline (OpDef conventions): the driver's pandas
        // canonicalizer cannot sort nested cells — an array/map/struct
        // output column makes the op unverifiable (round-9 `fn_array`).
        // Flag it by name here so it fails loudly at authoring time.
        df.schema.fields.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.StructType => true
          case _ => false
        }).foreach { f =>
          System.err.println(s"[verify][PREFLIGHT] $name output column " +
            s"'${f.name}' is nested-typed (${f.dataType.simpleString}) — " +
            "pandas canonicalizer cannot hash it; render as string/json")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries may cache intermediate frames; scope them to the query
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
