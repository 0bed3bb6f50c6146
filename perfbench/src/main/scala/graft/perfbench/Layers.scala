package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Turns a traced run into per-layer metrics (summed per pass, median
  * over traced warm passes) and a span tree written as JSON lines:
  * pass → key → ops.build | action → catalyst.<phase> | job → stage. */
object Layers {
  import Main.PassRun

  /** Closed-open intervals [start, end) in epoch ms. */
  type Ivs = Seq[(Double, Double)]

  private def union(xs: Ivs): Ivs =
    xs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private def clip(xs: Ivs, w: Ivs): Ivs =
    for ((a, b) <- union(xs); (c, d) <- w if math.min(b, d) > math.max(a, c))
      yield (math.max(a, c), math.min(b, d))

  private def len(xs: Ivs): Double = union(xs).map(i => i._2 - i._1).sum

  def report(t: Tracer, passes: Seq[PassRun], tracePath: String,
             workload: String): Map[String, Any] = {
    val jobs = t.jobs.values.asScala.toSeq
    val stages = t.stages.values.asScala.toSeq
    val phases = t.phases.asScala.toSeq
    val progress = t.progress.asScala.toSeq
    val execs = t.executions.values.asScala.toSeq
    val blocks = t.blocks.asScala.toSeq

    val spans = Seq.newBuilder[Span]
    var nextId = 0L
    def span(trace: String, parent: Long, name: String, s: Double, e: Double,
             attrs: Map[String, String] = Map.empty): Long = {
      nextId += 1; spans += Span(trace, nextId, parent, name, s, e, attrs); nextId
    }

    def passMetrics(p: PassRun): Map[String, Double] = {
      val pj = jobs.filter(_.pass.contains(p.pass))
      val ps = stages.filter(s => Tags.passOf(s.tags).contains(p.pass))
      val keyWin: Ivs = p.keys.map(k => (k.start, k.end))
      val buildWin: Ivs = p.keys.map(k => (k.start, k.buildEnd))
      val actionWin: Ivs = p.keys.map(k => (k.buildEnd, k.end))
      def inPass(ms: Long): Boolean = keyWin.exists(w => ms >= w._1 && ms < w._2)
      val pp = phases.filter(ph => ph.name != "parsing" && inPass(ph.start))
      val prog = progress.filter(g => g.time >= p.start && g.time < p.end)
      val pe = execs.filter(e => Tags.passOf(e._1).contains(p.pass))
      val loads = pj.filter(_.callSite.contains("Tables.scala"))
      def phaseMs(n: String) = pp.filter(_.name == n).map(x => x.end - x.start).sum.toDouble
      def sum(f: StageRec => Long) = ps.map(f).sum.toDouble
      val stagesTotal = pj.map(_.stages.size).sum.toDouble

      // self time per layer; together they partition the keys' wall time
      val stageIv = clip(ps.map(s => (s.submit.toDouble, s.end.toDouble)), keyWin)
      val jobIv = union(clip(pj.map(j => (j.submit.toDouble, j.end.toDouble)), keyWin) ++ stageIv)
      val catIv = clip(pp.map(x => (x.start.toDouble, x.end.toDouble)), keyWin)
      val busy = union(jobIv ++ catIv)
      val self = Map(
        "executor" -> len(stageIv),
        "scheduler" -> (len(jobIv) - len(stageIv)),
        "catalyst" -> (len(busy) - len(jobIv)),
        "ops" -> (len(buildWin) - len(clip(busy, buildWin))),
        "action" -> (len(actionWin) - len(clip(busy, actionWin))))

      // spans, one trace per (workload, pass, key)
      val passId = span(s"$workload/${p.pass}", 0, "pass", p.start, p.end)
      for (k <- p.keys) {
        val tr = s"$workload/${p.pass}/${k.key}"
        val keyId = span(tr, passId, "key", k.start, k.end,
          Map("key" -> k.key) ++ k.error.map("error" -> _))
        val buildId = span(tr, keyId, "ops.build", k.start, k.buildEnd)
        val actionId = span(tr, keyId, "action", k.buildEnd, k.end)
        def parentAt(ms: Double) = if (ms < k.buildEnd) buildId else actionId
        for (ph <- pp if ph.start >= k.start && ph.start < k.end)
          span(tr, parentAt(ph.start.toDouble), s"catalyst.${ph.name}",
            ph.start.toDouble, ph.end.toDouble)
        for (j <- pj if j.key.contains(k.key)) {
          val jobId = span(tr, if (j.inBuild) buildId else actionId, "job",
            j.submit.toDouble, j.end.toDouble,
            Map("job" -> j.id.toString, "callsite" -> j.callSite))
          for (s <- ps if j.stages.contains(s.id) && s.submit >= j.submit &&
                          s.submit <= j.end)
            span(tr, jobId, "stage", s.submit.toDouble, s.end.toDouble,
              Map("stage" -> s.id.toString, "tasks" -> s.tasks.toString))
        }
      }

      Map(
        "ops.build_ms" -> p.keys.map(_.buildNs).sum / 1e6,
        "ops.build_jobs" -> pj.count(_.inBuild).toDouble,
        "Tables.load_jobs" -> loads.size.toDouble,
        "Tables.load_ms" -> loads.map(j => j.end - j.submit).sum.toDouble,
        "Tables.input_bytes" -> sum(_.inBytes),
        "catalyst.executions" -> pe.size.toDouble,
        "catalyst.executions_per_key" -> pe.size.toDouble / p.keys.size,
        "catalyst.analysis_ms" -> phaseMs("analysis"),
        "catalyst.optimization_ms" -> phaseMs("optimization"),
        "catalyst.planning_ms" -> phaseMs("planning"),
        "codegen.classes" -> p.keys.map(_.codegen).sum.toDouble,
        "scheduler.jobs" -> pj.size.toDouble,
        "scheduler.stages" -> ps.size.toDouble,
        "scheduler.stages_skipped" -> math.max(0.0, stagesTotal - ps.size),
        "scheduler.stage_reuse" ->
          (if (stagesTotal > 0) math.max(0.0, stagesTotal - ps.size) / stagesTotal else 0.0),
        "scheduler.tasks" -> sum(_.tasks),
        "scheduler.task_wait_ms" -> sum(_.schedMs),
        "scheduler.broadcasts" -> pe.map(_._2).sum.toDouble,
        "executor.run_ms" -> sum(_.runMs),
        "executor.cpu_ms" -> sum(_.cpuNs) / 1e6,
        "executor.gc_ms" -> sum(_.gcMs),
        "shuffle.write_bytes" -> sum(_.shufWrite),
        "shuffle.read_bytes" -> sum(_.shufRead),
        "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
        "shuffle.spill_bytes" -> sum(_.spill),
        "storage.output_bytes" -> sum(_.outBytes),
        "storage.block_bytes" -> blocks.filter(_._1 == p.pass).map(_._2).sum.toDouble,
        "streaming.batches" -> prog.size.toDouble,
        "streaming.trigger_ms" -> prog.map(_.triggerMs).sum.toDouble,
        "streaming.state_rows" -> prog.map(_.stateRows).sum.toDouble,
        "streaming.state_commit_ms" -> prog.map(_.commitMs).sum.toDouble,
      ) ++ self.map { case (l, ms) => s"self_share.$l" -> ms / (p.okSeconds * 1e3) }
    }

    val traced = passes.filter(_.traced)
    val perPass = traced.map(p => p.pass -> passMetrics(p)).toMap
    val warmTraced = traced.filter(_.pass > 0).map(p => perPass(p.pass))
    val names = warmTraced.head.keys.toSeq
    val layer = names.map(n => n -> Stats.median(warmTraced.map(_(n)))).toMap
    // the first warm pass still settles the JIT, so the overhead compares
    // the traced passes with the untraced ones after it
    val untracedWarm = passes.filter(p => p.pass > 1 && !p.traced).map(_.okSeconds)
    val tracedWarm = traced.filter(_.pass > 0).map(_.okSeconds)

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(tracePath), spans.result().map { s =>
      mapper.writeValueAsString(Map("trace" -> s.trace, "span" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start,
        "dur_ms" -> s.ms, "attrs" -> s.attrs))
    }.asJava)

    layer ++ Map(
      // classes compiled on the cold pass: warm passes hit the codegen cache
      "codegen.classes" -> perPass(0)("codegen.classes"),
      "codegen.classes_warm" -> layer("codegen.classes"),
      "traced.warm_s" -> Stats.median(tracedWarm),
      "tracing.overhead_ms" ->
        (Stats.median(tracedWarm) - Stats.median(untracedWarm)) * 1e3,
    )
  }
}
