package graft.perfbench

import java.io.{File, FileOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.time.Instant
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.harness.{ScriptParser, SqlSubmitAction}
import graft.operators.Tables

/** JVM side of the repository benchmark. `run.py` writes a job spec (JSON)
  * and reads back the raw measurements this writes: per-operation times,
  * streaming progress, output checks and, with tracing on, spans.
  * Metrics and percentiles are computed in `run.py`, self times in
  * `spans.py`.
  *
  * The engine is driven only through its public entry points
  * (`SparkEntry.queries`, `Tables.load`, `ScriptParser.loadStatements`,
  * `SqlSubmitAction`) and observed from outside with Spark's public
  * listeners, so the benchmark measures any commit of the engine without
  * changing it.
  */
object BenchMain {
  private val json = new ObjectMapper()

  /** Epoch milliseconds with sub-millisecond resolution, on one clock. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** CPU time of the whole process (all threads), in milliseconds. Time a
    * virtual CPU spends waiting for its host is not counted, so it reads
    * the work done even when the host is oversubscribed. */
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def list(xs: Iterable[Any]): JList[Any] = {
    val l = new JList[Any]()
    xs.foreach(l.add)
    l
  }

  def main(args: Array[String]): Unit = {
    val spec = json.readTree(new File(args(0)))
    if (spec.get("kind").asText == "catalog") {
      // query names and oracle SQL, for the reference counts
      val oracle = new JMap[String, Any]()
      SparkEntry.oracleSql.foreach { case (k, v) => oracle.put(k, v) }
      json.writeValue(new File(spec.get("out").asText), obj(
        "queries" -> list(SparkEntry.registry.map(_.name)),
        "oracle" -> oracle))
      return
    }
    val result = new JMap[String, Any]()
    val heap = new HeapWatch
    val trace = if (spec.path("trace").asInt(0) == 1) Some(new Tracer) else None
    val workload = trace.map(_.open("workload", spec.get("workload").asText))
    try {
      spec.get("kind").asText match {
        case "lib" => LibWorkload.run(spec, result, heap, trace)
        case "stream" => StreamWorkload.run(spec, result, heap, trace)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace(System.err)
        result.put("fatal", String.valueOf(e))
    }
    for (t <- trace; w <- workload) {
      t.close(w)
      result.put("spans", t.spans)
    }
    result.put("heap_live_mb", heap.peakLiveMb)
    result.put("env", obj(
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L))
    json.writerWithDefaultPrettyPrinter().writeValue(
      new File(spec.get("out").asText), result)
    SparkSession.getActiveSession.foreach(_.stop())
    // non-daemon threads a stopped query may leave behind must not keep
    // the process alive
    System.exit(0)
  }

  def session(spec: JsonNode, extensions: Boolean): SparkSession = {
    val cores = spec.get("cores").asInt
    val runDir = spec.get("run_dir").asText
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    if (extensions) b.withExtensions(new graft.functions.GraftSparkExtensions)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Stop the session so the next `getOrCreate` builds a fresh context. */
  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

import BenchMain._

/** Peak heap still in use right after a garbage collection, from the
  * JVM's GC notifications plus explicit full collections the workloads
  * request at fixed points (see `fullGc`). */
final class HeapWatch {
  @volatile private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(
        n: javax.management.Notification, handback: Any): Unit =
      if (n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[
            javax.management.openmbean.CompositeData])
        // a young collection leaves the old generation uncollected, so
        // only full collections read live heap
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala
            .map(_.getUsed).sum
          record(used)
        }
      }
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  private def record(used: Long): Unit = synchronized {
    if (used > peak) peak = used
  }

  /** Force a full collection and record the heap left in use. */
  def fullGc(): Unit = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    record(mem.getUsed)
  }

  def peakLiveMb: Double = peak / 1048576.0
}

final class OpenSpan(val id: String, val kind: String, val name: String,
    val parent: String, val start: Double, val attrs: JMap[String, Any])

/** Spans kept in memory and written once at the end. A span is the
  * interval of one call into a layer; `parent` links it to the span that
  * caused it. Bench-side spans use the bench clock; job and stage spans
  * use Spark's event times (epoch ms). Jobs carry their parent through a
  * local property (`perfbench.span`) or the streaming query/batch ids. */
final class Tracer {
  private val recorded = new ConcurrentLinkedQueue[JMap[String, Any]]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }

  def open(kind: String, name: String): OpenSpan = {
    val id = s"b${ids.incrementAndGet()}"
    val o = new OpenSpan(id, kind, name, stack.get.headOption.orNull, nowMs,
      new JMap[String, Any]())
    stack.set(id :: stack.get)
    SparkSession.getActiveSession.foreach(
      _.sparkContext.setLocalProperty("perfbench.span", id))
    o
  }

  def close(o: OpenSpan): Unit = {
    val end = nowMs
    stack.set(stack.get.dropWhile(_ != o.id).drop(1))
    SparkSession.getActiveSession.foreach(
      _.sparkContext.setLocalProperty("perfbench.span",
        stack.get.headOption.orNull))
    add(o.kind, o.name, o.id, o.parent, o.start, end, o.attrs)
  }

  def span[T](kind: String, name: String)(body: => T): T = {
    val o = open(kind, name)
    try body finally close(o)
  }

  def add(kind: String, name: String, id: String, parent: String,
      start: Double, end: Double, attrs: JMap[String, Any]): Unit = {
    val m = obj("id" -> id, "kind" -> kind, "name" -> name,
      "parent" -> parent, "start_ms" -> start, "end_ms" -> end)
    if (attrs != null && !attrs.isEmpty) m.put("attrs", attrs)
    recorded.add(m)
  }

  def spans: JList[Any] = list(recorded.asScala)

  /** Spark-side spans: jobs and stages with their task aggregates, and
    * Catalyst phases and rule counts of every SQL action. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new ExecListener(this))
    spark.listenerManager.register(new PlanListener(this))
  }
}

/** Jobs, stages and task metrics, aggregated per stage. */
final class ExecListener(t: Tracer) extends SparkListener {
  private final class StageAgg {
    var tasks = 0L; var failures = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shufR = 0L; var shufW = 0L; var fetchWaitMs = 0L
    var spill = 0L; var inBytes = 0L
    val durations = scala.collection.mutable.ArrayBuffer.empty[Long]
  }
  private val stages = new java.util.concurrent.ConcurrentHashMap[String, StageAgg]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[
    Int, SparkListenerJobStart]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def key(stageId: Int, attempt: Int) = s"$stageId.$attempt"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { s =>
      val p = Option(s.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val parent = prop("sql.streaming.queryId") match {
        case Some(q) => s"batch:$q:${prop("streaming.sql.batchId").getOrElse("")}"
        case None => prop("perfbench.span").orNull
      }
      t.add("job", s"job ${e.jobId}", s"j${e.jobId}", parent,
        s.time.toDouble, e.time.toDouble,
        obj("failed" -> !e.jobResult.isInstanceOf[JobSucceeded.type]))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(key(e.stageId, e.stageAttemptId),
      _ => new StageAgg)
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    a.synchronized {
      a.tasks += 1
      if (!i.successful) a.failures += 1
      a.durations += i.duration
      m.foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime)
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val a = Option(stages.remove(key(s.stageId, s.attemptNumber())))
      .getOrElse(new StageAgg)
    val ds = a.durations.sorted
    val skew =
      if (ds.length >= 2 && ds(ds.length / 2) > 0)
        ds.last.toDouble / ds(ds.length / 2)
      else 1.0
    val job = Option(stageToJob.get(s.stageId)).map(j => s"j$j").orNull
    t.add("stage", s"stage ${s.stageId}.${s.attemptNumber()}",
      s"s${s.stageId}.${s.attemptNumber()}", job,
      s.submissionTime.getOrElse(0L).toDouble,
      s.completionTime.getOrElse(0L).toDouble,
      obj("tasks" -> a.tasks, "task_failures" -> a.failures,
        "task_run_ms" -> a.runMs, "task_cpu_ms" -> a.cpuNs / 1e6,
        "gc_ms" -> a.gcMs, "sched_delay_ms" -> a.schedMs,
        "shuffle_read_bytes" -> a.shufR, "shuffle_write_bytes" -> a.shufW,
        "shuffle_fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spill,
        "input_bytes" -> a.inBytes, "skew" -> skew))
  }
}

/** Catalyst phases and rule counts per SQL action, and the engine's
  * observed `graft_*` metrics (the dedup document-frequency cap). */
final class PlanListener(t: Tracer) extends QueryExecutionListener {
  private val n = new java.util.concurrent.atomic.AtomicLong(0)

  private def record(qe: QueryExecution): Unit = {
    val id = s"q${n.incrementAndGet()}"
    val rules = qe.tracker.rules.values
    val attrs = obj(
      "rule_runs" -> rules.map(_.numInvocations).sum,
      "rule_effective" -> rules.map(_.numEffectiveInvocations).sum)
    val observed = new JMap[String, Any]()
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("graft_"))
        row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
          if (!row.isNullAt(i)) observed.put(s"$name.$f", row.getAs[Any](i) match {
            case v: java.lang.Number => v.doubleValue()
            case v => String.valueOf(v)
          })
        }
    }
    if (!observed.isEmpty) attrs.put("observed", observed)
    qe.tracker.phases.foreach { case (phase, p) =>
      t.add("phase", phase, s"$id.$phase", null,
        p.startTimeMs.toDouble, p.endTimeMs.toDouble, null)
    }
    // one zero-length marker per action carries the rule counts
    val at = qe.tracker.phases.values.map(_.endTimeMs).maxOption
      .getOrElse(System.currentTimeMillis()).toDouble
    t.add("plan", "rules", id, null, at, at, attrs)
  }

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** The query library, one warm session: each query is built and
  * `.count()`ed, in a seed-permuted order per pass. */
object LibWorkload {
  def run(spec: JsonNode, out: JMap[String, Any], heap: HeapWatch,
      trace: Option[Tracer]): Unit = {
    val data = spec.get("data").asText
    val names = spec.get("queries").elements().asScala.map(_.asText).toVector
    val seconds = spec.get("seconds").asDouble
    val rnd = new Random(spec.get("seed").asLong)
    val all = SparkEntry.queries

    def trace_[T](kind: String, name: String)(body: => T): T =
      trace.fold(body)(_.span(kind, name)(body))

    // set-up, repeated: a fresh session with every table loaded and
    // counted; the median of the repeats is reported
    var spark: SparkSession = null
    val setups = new JList[Any]()
    val loads = new JList[Any]()
    for (_ <- 0 until spec.get("setup_runs").asInt) {
      val t0 = nowMs
      trace_("setup", "setup") {
        if (spark != null) stopSession(spark)
        spark = session(spec, extensions = false)
        trace.foreach(_.attach(spark))
        val l0 = nowMs
        trace_("tables", "tables") {
          Tables.names.foreach(n => Tables.load(spark, data, n).count())
        }
        loads.add(nowMs - l0)
      }
      setups.add((nowMs - t0) / 1000.0)
    }
    out.put("setup_s", setups)
    out.put("tables_load_ms", loads)

    // pass 0 warms up (JIT, and codegen of each query's plans) and is
    // checked but not timed. The timed region is a fixed amount of work,
    // two passes per 15 s of `seconds` (a pass of lib_curation takes
    // about 7 s on 4 cores), so a faster engine measures the same work
    // in less time
    val timedPasses = math.max(2, math.round(seconds / 7.5).toInt)
    val ops = new JList[Any]()
    var t0 = 0.0
    var c0 = 0.0
    var pass = -1
    while (pass < timedPasses) {
      pass += 1
      if (pass == 1) { t0 = nowMs; c0 = cpuMs }
      rnd.shuffle(names).foreach { name =>
        clearCaches(spark)
        val o = if (pass > 0) trace.map(_.open("op", name)) else None
        var buildMs = 0.0
        var actionMs = 0.0
        var rows = -1L
        var error: String = null
        val s0 = nowMs
        val cpu0 = cpuMs
        try {
          val fn = all.getOrElse(name,
            throw new NoSuchElementException(s"no query named $name"))
          val df = trace_("build", "build")(fn(spark, data))
          val s1 = nowMs
          buildMs = s1 - s0
          rows = trace_("action", "count")(df.count())
          actionMs = nowMs - s1
        } catch {
          case e: Throwable => error = String.valueOf(e)
        }
        val ms = nowMs - s0
        val cpu = cpuMs - cpu0
        for (t <- trace; x <- o) t.close(x)
        ops.add(obj("name" -> name, "pass" -> pass, "ms" -> ms, "cpu_ms" -> cpu,
          "build_ms" -> buildMs, "action_ms" -> actionMs, "rows" -> rows,
          "error" -> error))
      }
      clearCaches(spark)
      heap.fullGc()
    }
    out.put("wall_s", (nowMs - t0) / 1000.0)
    out.put("cpu_s", (cpuMs - c0) / 1000.0)
    out.put("passes", pass)
    out.put("ops", ops)
  }

  /** Cached relations and checkpoint blocks of earlier queries are
    * dropped between queries, outside the timed region, so each pass
    * measures the same work. */
  private def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}

/** A `sql-submit` script through `SqlSubmitAction` in streaming mode, on
  * the datagen (rate) source, which runs on wall-clock time: an open
  * loop, where a slow engine shows as a growing backlog. */
object StreamWorkload {
  def run(spec: JsonNode, out: JMap[String, Any], heap: HeapWatch,
      trace: Option[Tracer]): Unit = {
    val runDir = spec.get("run_dir").asText
    val script = spec.get("script").asText
    val vars = spec.get("vars").fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    val nQueries = spec.get("queries").asInt
    val rate = spec.get("rate").asLong
    val warmMs = spec.get("warm_s").asDouble * 1000
    val seconds = spec.get("seconds").asDouble
    val runs = spec.get("setup_runs").asInt
    val spark = session(spec, extensions = true)
    trace.foreach(_.attach(spark))
    val script0 = trace.map(_.open("op", "script"))

    // with `bounded`, the main run's generator stops after a fixed row
    // count, so the final output can be checked against it exactly; the
    // other runs (and unbounded workloads) never run dry
    val bounded = spec.get("bounded").asBoolean
    val unbounded = Long.MaxValue / 4
    val mainRows =
      if (bounded)
        (rate * (warmMs / 1000 + seconds + spec.get("slack_s").asDouble)).toLong
      else unbounded
    def runVars(run: Int) = {
      val rows = if (run == runs) mainRows else unbounded
      vars ++ Map("out" -> s"$runDir/out$run", "last_id" -> (rows - 1).toString)
    }
    val p0 = nowMs
    val statements = trace.fold(ScriptParser.loadStatements(script, runVars(runs)))(
      _.span("parse", "parse")(ScriptParser.loadStatements(script, runVars(runs))))
    out.put("parse_ms", nowMs - p0)
    out.put("statements", statements.size)

    val setups = new JList[Any]()
    val submits = new JList[Any]()
    val realOut = System.out
    for (run <- 1 to runs) {
      val main = run == runs
      val rows = mainRows
      // print-sink rows go to the JVM's stdout: one file per run
      val printed = s"$runDir/printed$run.txt"
      System.setOut(new PrintStream(new FileOutputStream(printed), true))
      val action = new SqlSubmitAction(script, runVars(run),
        existingSession = Some(spark), durationSec = 170L)
      var failure: Throwable = null
      val submit = trace.map(_.open("submit", s"submit $run"))
      // created inside the submit span: the thread inherits its Spark
      // local properties, so jobs the harness runs while submitting
      // attribute to it
      val thread = new Thread(() =>
        try action.run() catch { case e: Throwable => failure = e })
      val t0 = nowMs
      thread.start()
      def queries: List[StreamingQuery] =
        try action.started.toList catch { case _: Exception => Nil }
      def alive = thread.isAlive && failure == null
      // submitted: every INSERT has started its streaming query
      while (alive && queries.size < nQueries) Thread.sleep(5)
      submits.add(nowMs - t0)
      for (t <- trace; x <- submit) t.close(x)
      // set-up ends with the end of the first batch that processed data
      // on every query
      def firstDataEnd: Option[Double] = {
        val ends = queries.map(q => q.recentProgress
          .find(_.numInputRows > 0).map(endMs))
        if (ends.size == nQueries && ends.forall(_.isDefined))
          Some(ends.flatten.max) else None
      }
      while (alive && firstDataEnd.isEmpty) Thread.sleep(5)
      val ready = firstDataEnd.getOrElse(nowMs)
      setups.add((ready - t0) / 1000.0)
      if (!main) {
        queries.foreach(_.stop())
        thread.join()
      } else {
        val windowStart = ready + warmMs
        val windowEnd = windowStart + seconds * 1000
        // the window closes with the first completed batch after its end
        def doneAfter(t: Double) = queries.forall(q =>
          q.recentProgress.exists(p => startMs(p) >= t))
        while (alive && nowMs < windowStart) Thread.sleep(1)
        val c0 = cpuMs
        while (alive && nowMs < windowEnd) Thread.sleep(1)
        out.put("cpu_s", (cpuMs - c0) / 1000.0)
        while (alive && !doneAfter(windowEnd)) Thread.sleep(5)
        heap.fullGc()
        if (bounded) {
          // drain: every generated row has been through a committed batch
          val exhausted = queries.map(q => q.recentProgress.headOption
            .map(startMs).getOrElse(nowMs)).max + rows * 1000.0 / rate
          val drainDeadline = nowMs + 20000
          while (alive && !doneAfter(exhausted + 1500) && nowMs < drainDeadline)
            Thread.sleep(5)
        }
        val died = queries.flatMap(_.exception).map(String.valueOf)
        queries.foreach(_.stop())
        thread.join()
        System.setOut(realOut)
        out.put("window_ms", list(Seq(windowStart, windowEnd)))
        out.put("rows", rows)
        out.put("rate", rate)
        out.put("died", list(died ++ Option(failure).map(String.valueOf)))
        val progress = new JMap[String, Any]()
        queries.foreach(q => progress.put(q.id.toString,
          list(q.recentProgress.map(p => json.readTree(p.json)))))
        out.put("progress", progress)
        out.put("checks", list(Checks.run(spark, spec, runVars(run), printed, rows,
          queries.flatMap(_.recentProgress))))
      }
      System.setOut(realOut)
    }
    for (t <- trace; x <- script0) t.close(x)
    out.put("setup_s", setups)
    out.put("submit_ms", submits)
  }

  private val json = new ObjectMapper()

  def startMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble

  def endMs(p: StreamingQueryProgress): Double =
    startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
}

/** Output checks of the streaming workloads. Each returns
  * (name, ok, detail); a failed check counts as a failed operation.
  * `plant_wrong` in the spec shifts one expected OVER id, so the self-test
  * can show that a wrong output is caught. */
object Checks {
  def run(spark: SparkSession, spec: JsonNode, vars: Map[String, String],
      printed: String, rows: Long,
      progress: Seq[StreamingQueryProgress]): Seq[JMap[String, Any]] =
    spec.get("check").asText match {
      case "agg_print" => aggPrint(printed, rows)
      case "window_files" => windowFiles(spark, vars("out"), progress,
        spec.path("plant_wrong").asBoolean(false))
    }

  private def result(name: String, ok: Boolean, detail: String) =
    obj("name" -> name, "ok" -> ok, "detail" -> detail)

  /** The reference pipeline's print sink: the last printed row per
    * (dim, window_start) key is the final aggregate. Every generated row
    * is counted exactly once, so final `pv` sums to the row count. `uv`
    * is an HLL estimate (relative standard error 5%), so it may exceed
    * the exact distinct count; it is checked against `pv` with four
    * standard errors of slack. */
  def aggPrint(printed: String, rows: Long): Seq[JMap[String, Any]] = {
    val Row = raw"^tbl_aggregate_sink> [+-][IU]\[(.*)\]$$".r
    val last = scala.collection.mutable.LinkedHashMap.empty[(String, String), Array[String]]
    var lines = 0L
    scala.io.Source.fromFile(printed).getLines().foreach {
      case Row(body) =>
        lines += 1
        val f = body.split(", ", -1)
        last((f(0), f(6))) = f
      case _ => ()
    }
    val finals = last.values.toSeq
    val pv = finals.map(_(1).toLong).sum
    val badUv = finals.count { f =>
      val (p, u) = (f(1).toLong, f(2).toLong)
      u < 1 || u > p + math.max(1.0, 0.2 * p)
    }
    val badPrice = finals.count { f =>
      val (p, s, mx, mn) = (f(1).toLong, f(3).toDouble, f(4).toDouble, f(5).toDouble)
      mn < 50 || mx > 1000 || mn > mx || s < 50 * p - 1e-6 || s > 1000 * p + 1e-6
    }
    Seq(
      result("pv_sums_to_rows", pv == rows,
        s"sum(pv)=$pv rows=$rows keys=${finals.size} printed=$lines"),
      result("uv_le_pv", badUv == 0, s"$badUv of ${finals.size} keys"),
      result("price_bounds", badPrice == 0, s"$badPrice of ${finals.size} keys"))
  }

  private def epochMs(iso: String): Long = Instant.parse(iso).toEpochMilli

  /** Input rows of the batches whose event times all lie below `t`:
    * rows every correct operator has emitted once the watermark is
    * past `t`. */
  private def rowsBelow(ps: Seq[StreamingQueryProgress], t: Long): Long =
    ps.filter(p => p.numInputRows > 0 && p.eventTime.containsKey("max") &&
      epochMs(p.eventTime.get("max")) < t).map(_.numInputRows).sum

  /** Filesystem sinks of the window workload, read through Spark so only
    * committed batches count. Both queries' outputs are prefixes of the
    * input in event time, and ids grow with event time, so the emitted
    * ids must be exactly 0..n-1; OVER sums are recomputed from the
    * emitted rows themselves (every row a sum looks back on is emitted
    * before it). Completeness is checked against each query's progress
    * reports: every input row below the last batch's watermark has its
    * OVER row, and every row below the last 10 s window end at or under
    * that watermark lies in an emitted full CUMULATE window. */
  def windowFiles(spark: SparkSession, out: String,
      progress: Seq[StreamingQueryProgress], plant: Boolean): Seq[JMap[String, Any]] = {
    def ofSink(name: String) =
      progress.filter(_.sink.description.contains(s"$out/$name"))
    def watermark(ps: Seq[StreamingQueryProgress]) =
      ps.lastOption.flatMap(p => Option(p.eventTime.get("watermark")))
        .map(epochMs).getOrElse(0L)
    val overProgress = ofSink("over")
    val cumProgress = ofSink("cumulate")
    val overIn = overProgress.map(_.numInputRows).sum
    val overWant = rowsBelow(overProgress, watermark(overProgress))
    val cumIn = cumProgress.map(_.numInputRows).sum
    val cumWant = rowsBelow(cumProgress,
      Math.floorDiv(watermark(cumProgress), 10000L) * 10000L)
    val over = spark.read.parquet(s"$out/over").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("dim"),
        r.getAs[java.sql.Timestamp]("row_time").getTime,
        r.getAs[Double]("price"), r.getAs[Double]("sum_10s"),
        r.getAs[Long]("cnt_10s")))
    val overIds = over.map(_._1).sorted
    val firstId = if (plant) 1L else 0L
    val overContiguous = overIds.indices.forall(i => overIds(i) == firstId + i)
    var badSums = 0
    over.groupBy(_._2).values.foreach { rows0 =>
      val rows = rows0.sortBy(r => (r._3, r._1))
      var lo = 0
      var hi = 0
      var sum = 0.0
      var cnt = 0L
      rows.indices.foreach { i =>
        val t = rows(i)._3
        // RANGE frame: every row with time in [t - 10 s, t], peers included
        while (hi < rows.length && rows(hi)._3 <= t) {
          sum += rows(hi)._4; cnt += 1; hi += 1
        }
        while (rows(lo)._3 < t - 10000) {
          sum -= rows(lo)._4; cnt -= 1; lo += 1
        }
        val r = rows(i)
        if (r._6 != cnt || math.abs(r._5 - sum) > 1e-6 * math.max(1.0, sum))
          badSums += 1
      }
    }
    val cum = spark.read.parquet(s"$out/cumulate").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime,
        r.getAs[java.sql.Timestamp]("window_end").getTime,
        r.getAs[Long]("cnt"), r.getAs[Long]("min_id"), r.getAs[Long]("max_id")))
    // the 10 s windows chain over contiguous id ranges from 0
    val full = cum.filter(c => c._2 - c._1 == 10000L).sortBy(_._1)
    var next = 0L
    val chained = full.forall { c =>
      val ok = c._4 == next && c._5 - c._4 + 1 == c._3
      next = c._5 + 1
      ok
    }
    // growing windows of one start are nested prefixes of the full one
    val nested = cum.groupBy(_._1).values.forall { ws =>
      val s = ws.sortBy(_._2)
      s.zip(s.drop(1)).forall { case (a, b) =>
        a._3 <= b._3 && a._4 == b._4 && a._5 <= b._5 } &&
        s.forall(w => w._5 - w._4 + 1 == w._3)
    }
    Seq(
      result("over_ids_contiguous", over.nonEmpty && overContiguous,
        s"rows=${over.length} max_id=${overIds.lastOption.getOrElse(-1L)}"),
      result("over_complete", overWant > 0 && over.length >= overWant,
        s"rows=${over.length} input=$overIn below_watermark=$overWant"),
      result("over_sums", over.nonEmpty && badSums == 0,
        s"$badSums of ${over.length} rows differ from the recomputed frame"),
      result("cumulate_chain", full.nonEmpty && chained,
        s"full_windows=${full.length} ids_covered=$next"),
      result("cumulate_complete", cumWant > 0 && next >= cumWant,
        s"ids_covered=$next input=$cumIn below_closed_windows=$cumWant"),
      result("cumulate_nested", cum.nonEmpty && nested,
        s"windows=${cum.length}"))
  }
}
