package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Job tags the harness sets around each key; listeners read them back
  * from job properties to attribute work to (pass, key, phase). */
object Tags {
  val Build = "perfbench-build"
  val Action = "perfbench-action"
  def pass(p: Int): String = s"perfbench-pass-$p"
  def key(k: String): String = s"perfbench-key-$k"

  def passOf(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith("perfbench-pass-") =>
      t.stripPrefix("perfbench-pass-").toInt }
  def keyOf(tags: Iterable[String]): Option[String] =
    tags.collectFirst { case t if t.startsWith("perfbench-key-") =>
      t.stripPrefix("perfbench-key-") }
}

/** One timed region; times are epoch milliseconds. */
final case class Span(trace: String, id: Long, parent: Long, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, String] = Map.empty) {
  def ms: Double = end - start
}

final case class JobRec(id: Int, tags: Set[String], callSite: String,
                        submit: Long, stages: Seq[Int]) {
  @volatile var end: Long = submit
  def pass: Option[Int] = Tags.passOf(tags)
  def key: Option[String] = Tags.keyOf(tags)
  def inBuild: Boolean = tags.contains(Tags.Build)
}

final class StageRec(val id: Int, val tags: Set[String], val submit: Long) {
  var end: Long = submit
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var schedMs = 0L; var inBytes = 0L; var outBytes = 0L
  var shufWrite = 0L; var shufRead = 0L; var fetchWaitMs = 0L; var spill = 0L
}

final case class PhaseRec(name: String, start: Long, end: Long)
final case class ProgressRec(time: Long, triggerMs: Long, stateRows: Long,
                             commitMs: Long)

/** Reads per-layer activity from Spark's public listener APIs. Nothing
  * in the engine is instrumented: jobs, stages and SQL executions are
  * attributed to (pass, key) through their job tags, planning phases and
  * stream progress through the key windows the harness records, and
  * block updates to the pass of the last job started. Only passes for
  * which `traced` holds are recorded. */
final class Tracer(spark: SparkSession, traced: Int => Boolean) {

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  /** (stage id, attempt) → the stage attempt's record. */
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  /** SQL execution id → (tags, broadcast exchanges in the latest plan). */
  val executions = new java.util.concurrent.ConcurrentHashMap[Long, (Set[String], Int)]()
  /** (pass of the last job started, block bytes) per block update. */
  val blocks = new ConcurrentLinkedQueue[(Int, Long)]()
  @volatile private var lastPass = -1

  private def broadcasts(p: SparkPlanInfo): Int =
    (if (p.nodeName.startsWith("BroadcastExchange")) 1 else 0) +
      p.children.map(broadcasts).sum

  private def tagsOf(props: java.util.Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage is named after the job's call site, e.g.
      // "parquet at Tables.scala:21"
      val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val rec = JobRec(e.jobId, tagsOf(e.properties), callSite, e.time,
        e.stageInfos.map(_.stageId))
      rec.pass.foreach { p =>
        lastPass = p
        if (traced(p)) jobs.put(e.jobId, rec)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      val tags = tagsOf(e.properties)
      if (Tags.passOf(tags).exists(traced))
        stages.put((i.stageId, i.attemptNumber()), new StageRec(i.stageId, tags,
          i.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stages.get((i.stageId, i.attemptNumber()))).foreach { s =>
        s.synchronized { s.end = i.completionTime.getOrElse(System.currentTimeMillis()) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get((e.stageId, e.stageAttemptId))).foreach { s =>
        val m = e.taskMetrics
        val i = e.taskInfo
        s.synchronized {
          s.tasks += 1
          if (m != null) {
            s.runMs += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            // the UI's "scheduler delay": task wall time not spent
            // deserializing, running or shipping the result
            s.schedMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              i.gettingResultTime)
            s.inBytes += m.inputMetrics.bytesRead
            s.outBytes += m.outputMetrics.bytesWritten
            s.shufWrite += m.shuffleWriteMetrics.bytesWritten
            s.shufRead += m.shuffleReadMetrics.totalBytesRead
            s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.storageLevel.isValid && b.blockId.isRDD && traced(lastPass))
        blocks.add((lastPass, b.memSize + b.diskSize))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if Tags.passOf(s.jobTags).exists(traced) =>
        executions.put(s.executionId, (s.jobTags, broadcasts(s.sparkPlanInfo)))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        Option(executions.get(u.executionId)).foreach { case (t, _) =>
          executions.put(u.executionId, (t, broadcasts(u.sparkPlanInfo))) }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(PhaseRec(name, p.startTimeMs, p.endTimeMs)) }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        progress.add(ProgressRec(t, trig,
          p.stateOperators.map(_.numRowsUpdated).sum,
          p.stateOperators.map(_.commitTimeMs).sum))
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
}

object Tracer {
  /** Generated classes compiled so far in this JVM: Spark's codegen
    * metrics source records one compilation per class. */
  def codegenClasses: Long = {
    val cls = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    val src = cls.getField("MODULE$").get(null)
    cls.getMethod("METRIC_COMPILATION_TIME").invoke(src)
      .asInstanceOf[com.codahale.metrics.Histogram].getCount
  }
}
