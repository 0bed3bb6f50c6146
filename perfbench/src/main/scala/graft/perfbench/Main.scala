package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one `local[N]` JVM: build the session, run one
  * untimed warmup query, then pass over a workload's keys back to back
  * (one cold pass, then warm passes until the time budget is spent).
  * Each key is timed as its catalog function call plus a full materialization
  * (`noop` write), never `count()`, which lets Catalyst prune the work.
  * A key that throws is counted and left out of the timings. After the
  * timed passes, an untimed check pass writes every oracle-covered key's
  * output as parquet for the DuckDB compare.
  *
  * Usage: Main --workload W --data DIR --work DIR --seed N --seconds S
  *             --trace 0|1 --t0 EPOCH_NS [--mode run|setup]
  * Writes `<work>/result.json`; `--mode setup` stops after the warmup.
  */
object Main {

  final case class KeyRun(key: String, start: Double, buildEnd: Double,
                          end: Double, buildNs: Long, actionNs: Long,
                          error: Option[String], codegen: Long) {
    def ok: Boolean = error.isEmpty
    def ns: Long = buildNs + actionNs
  }
  final case class PassRun(pass: Int, traced: Boolean, start: Double,
                           end: Double, keys: Seq[KeyRun]) {
    def okSeconds: Double = keys.filter(_.ok).map(_.ns).sum / 1e9
  }
  final case class State(conf: Map[String, String], tables: Set[String],
                         rdds: Set[Int], streams: Set[String])

  private def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  def session(cpus: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      // graft.Bench's confs
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // run isolation: tables and spill files stay inside this run's dir
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use right after a full collection, summed over pools. */
  private def heapAfterGcMb: Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def firstLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.nextOption().getOrElse("").take(300)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val t0Ns = opt("t0").toLong
    val (data, work) = (opt("data"), opt("work"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    def emit(result: Map[String, Any]): Unit = Files.writeString(
      Paths.get(s"$work/result.json"), mapper.writeValueAsString(result))

    def sinceT0: Double = {
      val i = java.time.Instant.now()
      (i.getEpochSecond * 1000000000L + i.getNano - t0Ns) / 1e9
    }
    val keys = Workloads.keys(opt("workload"))
    System.err.println(f"[perfbench] catalog loaded at $sinceT0%.3f s")
    val spark = session(cpus, work)
    val sc = spark.sparkContext
    System.err.println(f"[perfbench] session built at $sinceT0%.3f s")
    // one untimed warmup query: a scan of the smallest table
    graft.Tables.region(spark, data).write.format("noop").mode("overwrite").save()
    val setupS = sinceT0
    if (opt.getOrElse("mode", "run") == "setup") {
      emit(Map("setup_s" -> setupS))
      spark.stop()
      return
    }

    val seed = opt("seed").toLong
    val budgetS = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    // with tracing, warm passes alternate untraced (odd) and traced (even)
    val tracedPass: Int => Boolean = p => trace && p % 2 == 0
    val tracer = if (trace) Some(new Tracer(spark, tracedPass)) else None
    tracer.foreach(_.attach())

    val passHeap = mutable.ArrayBuffer(heapAfterGcMb)
    val leaks = mutable.LinkedHashSet.empty[String]
    val failures = mutable.ArrayBuffer.empty[String]

    def snapshot(): State = State(spark.conf.getAll,
      spark.catalog.listTables().collect().map(t => t.name).toSet,
      sc.getPersistentRDDs.keySet.toSet,
      spark.streams.active.map(_.id.toString).toSet)

    // one entry per (key, kind of state left behind); numbered names
    // (memory-sink tables) count once however many runs numbered them
    def diff(key: String, a: State, b: State): Unit = {
      (a.conf.keySet ++ b.conf.keySet).filter(k => a.conf.get(k) != b.conf.get(k))
        .foreach(k => leaks += s"$key: conf $k=${b.conf.getOrElse(k, "<unset>")}")
      (b.tables -- a.tables).foreach(t =>
        leaks += s"$key: table ${t.replaceAll("_[0-9]+$", "_<n>")}")
      if ((b.rdds -- a.rdds).nonEmpty) leaks += s"$key: persistent RDDs"
      (b.streams -- a.streams).foreach(_ => leaks += s"$key: active stream")
    }

    def runKey(pass: Int, key: String): KeyRun = {
      spark.catalog.clearCache() // as graft.Bench: no key reuses another's cache
      val before = snapshot()
      Seq(Tags.pass(pass), Tags.key(key), Tags.Build).foreach(sc.addJobTag)
      val cg0 = Tracer.codegenClasses
      val start = nowMs
      val t0 = System.nanoTime()
      var t1 = t0
      var buildEnd = start
      val error = try {
        val df = graft.SparkEntry.queries(key)(spark, data)
        t1 = System.nanoTime(); buildEnd = nowMs
        sc.removeJobTag(Tags.Build); sc.addJobTag(Tags.Action)
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable => Some(firstLine(e))
      } finally sc.clearJobTags()
      val t2 = System.nanoTime()
      val run = KeyRun(key, start, buildEnd, nowMs, t1 - t0, t2 - t1, error,
        Tracer.codegenClasses - cg0)
      error.foreach { e =>
        failures += s"$key (pass $pass): $e"
        System.err.println(s"[perfbench] FAILED $key (pass $pass): $e")
      }
      diff(key, before, snapshot())
      run
    }

    def runPass(pass: Int): PassRun = {
      val start = nowMs
      val runs = Workloads.order(keys, seed, pass).map(runKey(pass, _))
      passHeap += heapAfterGcMb // untimed, between passes
      PassRun(pass, tracedPass(pass), start, nowMs, runs)
    }

    // cold pass, then warm passes until the budget is spent
    val passes = mutable.ArrayBuffer(runPass(0))
    val warmStart = System.nanoTime()
    val minWarm = if (trace) 3 else 2
    while (passes.size - 1 < minWarm ||
           (System.nanoTime() - warmStart) / 1e9 < budgetS) {
      passes += runPass(passes.size)
    }

    // untimed output check: oracle-covered keys write parquet for DuckDB
    val oracle = graft.SparkEntry.oracleSql.filter(o => keys.contains(o._1))
    val checkDir = s"$work/check"
    val checkErrors = mutable.ArrayBuffer.empty[String]
    for (key <- oracle.keys.toSeq.sorted) {
      spark.catalog.clearCache()
      try graft.SparkEntry.queries(key)(spark, data)
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$key")
      catch {
        case e: Throwable =>
          checkErrors += s"$key (check): ${firstLine(e)}"
          System.err.println(s"[perfbench] FAILED $key (check): ${firstLine(e)}")
      }
    }

    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => () }
    spark.stop() // drains the listener bus before the trace is read

    val warm = passes.toSeq.tail
    val samplesMs = warm.flatMap(_.keys.filter(_.ok).map(_.ns / 1e6))
    val keyWarmMs = keys.map(k => k -> Stats.median(warm.flatMap(
      _.keys.filter(r => r.key == k && r.ok)).map(_.ns / 1e6))).toMap
      .filterNot(_._2.isNaN)
    val executions = passes.map(_.keys.size).sum + oracle.size
    val base = Map[String, Any](
      "setup_s" -> setupS,
      "cold_s" -> passes.head.okSeconds,
      "warm_s" -> Stats.median(warm.filterNot(_.traced).map(_.okSeconds)),
      // the typical key: median over keys of each key's median warm latency
      // (with few keys, a median over raw samples jumps between keys)
      "query_ms.p50" -> Stats.median(keyWarmMs.values.toSeq),
      "query_ms.samples" -> samplesMs.size,
      // over a fixed amount of work (set-up, the cold pass and the first two
      // warm passes), so the figure does not depend on how many passes fit
      "peak_heap_mb" -> passHeap.take(4).max,
      "heap_mb_by_pass" -> passHeap.toSeq,
      "leaked_state" -> leaks.size,
      "leaks" -> leaks.toSeq,
      "attempted" -> executions,
      "failed" -> (failures.size + checkErrors.size),
      "failures" -> (failures ++ checkErrors).toSeq,
      "passes" -> passes.size,
      "warm_pass_s" -> warm.map(_.okSeconds),
      "keys" -> keys.size,
      "key_warm_ms" -> keyWarmMs,
      "oracle_sql" -> oracle,
      "cpus" -> cpus.toInt,
    )
    val traced = tracer.map(t => Layers.report(t, passes.toSeq,
      s"$work/trace.jsonl", opt("workload"))).getOrElse(Map.empty)
    emit(base ++ traced)
  }
}

object Stats {
  /** Median; NaN on no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
