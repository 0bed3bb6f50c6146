package graft

import java.nio.file.Files
import ops.SmallData

/** Degenerate-input robustness: every catalog query must run (not
  * throw) against ZERO-ROW versions of every table — the shape of an
  * empty partition, an empty date-range, or a filtered-out source at
  * scale. Row counts may legitimately be 0 or 1 (global aggregates);
  * what is asserted is that execution succeeds.
  */
class EmptyInputSpec extends SparkSpecBase {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft_empty_").toString
    // events must keep its raw INT64-nanos ts column (the loader does
    // the nanos→micros conversion itself); the conf is scoped to the
    // copy so it cannot mask a loader that leaks it
    SmallData.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      for (t <- Tables.names) {
        spark.read.parquet(s"$sf/$t.parquet").limit(0)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    }
    dir
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name runs on empty tables") {
      val n = SparkEntry.queries(name)(spark, emptyDir).count()
      spark.catalog.clearCache()
      assert(n >= 0)
    }
  }
}
