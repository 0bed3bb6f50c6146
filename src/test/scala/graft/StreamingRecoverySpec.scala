package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Checkpoint recovery on a REAL file source — the property a
  * production pipeline actually depends on: state (and the source's
  * processed-file log) must survive a query restart.
  *
  * Protocol: write half the events as parquet, run the tumbling
  * aggregation to a complete-mode memory sink with a checkpoint, STOP
  * the query, append the second half as new files, start a FRESH query
  * on the same checkpoint. The restarted query only reads the new
  * files (the checkpoint's file log marks the first batch processed),
  * so its complete-mode output equals the batch twin over ALL events
  * iff the aggregation state was recovered from the checkpoint — a
  * failure to recover under-counts every first-half window.
  */
class StreamingRecoverySpec extends SparkSpecBase {

  /** The tumbling protocol, with both queries run under `confs`. */
  private def tumblingRecovery(tag: String, confs: Seq[(String, String)]): Unit = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_recovery").toString
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"

    val events = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val firstHalf = events.filter($"event_id" % 2 === 0)
    val secondHalf = events.filter($"event_id" % 2 =!= 0)
    firstHalf.coalesce(1).write.mode("append").parquet(srcDir)

    val schema = spark.read.parquet(srcDir).schema
    def startQuery(name: String) = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      EventStream.tumblingCounts(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    }

    val progress = ops.SmallData.withConf(spark, confs: _*) {
      val q1 = startQuery(s"${tag}_run1")
      q1.processAllAvailable()
      q1.stop()

      secondHalf.coalesce(1).write.mode("append").parquet(srcDir)

      val q2 = startQuery(s"${tag}_run2")
      q2.processAllAvailable()
      try q2.recentProgress.map(_.numInputRows).sum finally q2.stop()
    }
    // the restarted query must have scanned ONLY the new files
    assert(progress === secondHalf.count(),
      s"restart re-read old files: $progress rows")

    val got = spark.table(s"${tag}_run2")
    val want: DataFrame = events
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Exact.sumExact($"value").as("total_value"))
      .select($"window.start".as("hour_start"), $"event_type",
        $"n_events", $"total_value")
    assert(got.count() === want.count(), "window count differs")
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      "recovered totals differ from the batch twin")
  }

  test("tumbling totals survive a stop/restart across file batches") {
    tumblingRecovery("recovery", Seq.empty)
  }

  test("tumbling totals survive a stop/restart under the stream keys' confs") {
    // the FileSystem-based checkpoint manager and the state partition
    // count every `stream_*` key runs under
    tumblingRecovery("recovery_keys", ops.Events.streamConfs(spark))
  }

  test("session state survives a stop/restart and merges cross-batch runs") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_recovery_s").toString
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"

    // split by event_id PARITY so each user's timeline interleaves
    // across the two file batches: almost every recovered session must
    // MERGE batch-2 events into batch-1 session state — a lost or
    // miscarried state shows up as split sessions, not just undercounts
    val events = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val firstHalf = events.filter($"event_id" % 2 === 0)
    val secondHalf = events.filter($"event_id" % 2 =!= 0)
    firstHalf.coalesce(1).write.mode("append").parquet(srcDir)

    val schema = spark.read.parquet(srcDir).schema
    def startQuery(name: String) = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      EventStream.sessionCounts(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    }

    val q1 = startQuery("srecovery_run1")
    q1.processAllAvailable()
    q1.stop()

    secondHalf.coalesce(1).write.mode("append").parquet(srcDir)

    val q2 = startQuery("srecovery_run2")
    q2.processAllAvailable()
    val progress = q2.recentProgress.map(_.numInputRows).sum
    q2.stop()
    assert(progress === secondHalf.count(),
      s"restart re-read old files: $progress rows")

    val got = spark.table("srecovery_run2")
      .select($"user_id", $"session_start", $"n_events")
    val want = SparkEntry.queries("event_sessions")(spark, sf)
      .select($"user_id", $"session_start", $"n_events")
    assert(got.count() === want.count(), "session count differs")
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      "recovered sessions differ from the batch twin")
  }
}
