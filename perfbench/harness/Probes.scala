package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

/** In-memory span store, off until the traced phase starts. Spans are kept
  * in memory and written out once, when the benchmark ends, so recording a
  * span costs one allocation and one lock-free enqueue. Times are epoch
  * nanoseconds (epoch millis at start plus a monotonic offset), comparable
  * with the load generator's `time.time_ns()` spans. */
final class Tracer {
  @volatile var enabled = false
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val mono0 = System.nanoTime()
  private val spans = new ConcurrentLinkedQueue[ObjectNode]()
  private val mapper = new ObjectMapper()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  def now(): Long = epochNs0 + (System.nanoTime() - mono0)

  def nextId(prefix: String): String = s"$prefix-${seq.incrementAndGet()}"

  def record(name: String, id: String, parent: String, req: String,
      start: Long, end: Long): Unit = if (enabled) {
    val n = mapper.createObjectNode()
    n.put("name", name); n.put("id", id); n.put("parent", parent)
    n.put("req", req); n.put("start", start); n.put("end", end)
    spans.add(n)
  }

  def span[T](name: String, parent: String, req: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = now()
      try f finally record(name, nextId(name), parent, req, s, now())
    }

  def writeTo(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.forEach { n => w.write(mapper.writeValueAsString(n)); w.write('\n') }
    finally w.close()
  }
}

/** Task-level counters summed over a window, split into the benchmark's own
  * job groups (group id starting with `bench-`: replayed broker requests and
  * analytics queries) and everything (broker threads, micro-batches). */
final class ExecTotals {
  var jobs, stages, stagesSkipped, tasks, tasksFailed = 0L
  var cpuNs, runMs, waitMs, gcMs, shuffleWrite, shuffleRead, spill = 0L

  def toJson(n: ObjectNode): ObjectNode = {
    n.put("jobs", jobs); n.put("stages", stages); n.put("stages_skipped", stagesSkipped)
    n.put("tasks", tasks); n.put("tasks_failed", tasksFailed)
    n.put("task_cpu_ns", cpuNs); n.put("task_run_ms", runMs); n.put("task_wait_ms", waitMs)
    n.put("gc_ms", gcMs); n.put("shuffle_write_bytes", shuffleWrite)
    n.put("shuffle_read_bytes", shuffleRead); n.put("spill_bytes", spill)
    n
  }
}

/** Benchmark-registered SparkListener: per-window task/stage/job counters,
  * per-group shuffle bytes (for `query.<name>.shuffle_mb`), and job/stage
  * spans attached to the request whose job group launched them. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private val lock = new Object
  private var bench = new ExecTotals
  private var all = new ExecTotals
  private val groupShuffle = mutable.Map[String, Long]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val jobStages = mutable.Map[Int, (Seq[Int], String, Long)]()
  private val submitted = mutable.Set[Int]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  def reset(): Unit = lock.synchronized {
    bench = new ExecTotals; all = new ExecTotals; groupShuffle.clear()
  }

  def snapshot(mapper: ObjectMapper): ObjectNode = lock.synchronized {
    val n = mapper.createObjectNode()
    bench.toJson(n.putObject("bench"))
    all.toJson(n.putObject("all"))
    val g = n.putObject("group_shuffle_bytes")
    groupShuffle.foreach { case (k, v) => g.put(k, v) }
    n
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = group(e.properties)
    e.stageIds.foreach { s => stageGroup(s) = g; stageJob(s) = e.jobId }
    jobStages(e.jobId) = (e.stageIds, g, e.time)
    all.jobs += 1
    if (g.startsWith("bench-")) bench.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStages.remove(e.jobId).foreach { case (stageIds, g, start) =>
      val skipped = stageIds.count(s => !submitted.contains(s)).toLong
      all.stagesSkipped += skipped
      if (g.startsWith("bench-")) bench.stagesSkipped += skipped
      tracer.record("spark.job", s"job-${e.jobId}", g, g, start * 1000000L, e.time * 1000000L)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    val id = e.stageInfo.stageId
    submitted += id
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    val g = Option(e.properties).map(group).getOrElse(stageGroup.getOrElse(id, ""))
    stageGroup(id) = g
    all.stages += 1
    if (g.startsWith("bench-")) bench.stages += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    val g = stageGroup.getOrElse(i.stageId, "")
    for (s <- i.submissionTime; c <- i.completionTime)
      tracer.record("spark.stage", s"stage-${i.stageId}.${i.attemptNumber()}",
        s"job-${stageJob.getOrElse(i.stageId, -1)}", g, s * 1000000L, c * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val info = e.taskInfo
    val m = e.taskMetrics
    val failed = !info.successful
    val submit = stageSubmit.getOrElse(e.stageId, info.launchTime)
    def add(t: ExecTotals): Unit = {
      t.tasks += 1
      if (failed) t.tasksFailed += 1
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        // queueing for a core (stage submitted -> task launched) plus
        // deserialization: the time a task's work waited before running
        t.waitMs += math.max(0L, info.launchTime - submit) + m.executorDeserializeTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
      }
    }
    add(all)
    if (g.startsWith("bench-")) {
      add(bench)
      if (m != null)
        groupShuffle(g) = groupShuffle.getOrElse(g, 0L) +
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
    }
  }
}

/** Micro-batch progress, as Spark's public StreamingQueryListener reports
  * it; each progress becomes one `ingest.batch` span. */
final class IngestListener(tracer: Tracer, mapper: ObjectMapper) extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[ObjectNode]()

  def clear(): Unit = progress.clear()

  def committedRows: Long = {
    var n = 0L
    progress.forEach(p => n += p.get("num_input_rows").asLong())
    n
  }

  def toJson(arr: ArrayNode): Unit = progress.forEach(p => arr.add(p))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val n = mapper.createObjectNode()
    n.put("batch_id", p.batchId)
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    n.put("start_ms", startMs)
    n.put("num_input_rows", p.numInputRows)
    val d = n.putObject("duration_ms")
    p.durationMs.forEach((k, v) => d.put(k, v.longValue()))
    progress.add(n)
    val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue()).getOrElse(0L)
    tracer.record("ingest.batch", s"batch-${p.runId}-${p.batchId}", "ingest", "ingest",
      startMs * 1000000L, (startMs + total) * 1000000L)
  }
}

/** Planning and scan readings of one executed QueryExecution, from Spark's
  * public QueryPlanningTracker and the executed plan's SQLMetrics. */
object PlanReadings {
  val graftRules = Seq("PinotImplicitLimitRule", "PinotNullDefaultsRule",
    "RangeJoinBinningRule", "SegmentPruningRule", "StarTreeRoutingRule",
    "VectorSimilarityRule")

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }

  def of(qe: QueryExecution, n: ObjectNode): ObjectNode = {
    val phases = qe.tracker.phases
    Seq("parsing", "analysis", "optimization", "planning").foreach { ph =>
      phases.get(ph).foreach(s => n.put(s"${ph}_ms", s.durationMs))
    }
    var ruleNs, inv, eff = 0L
    qe.tracker.rules.foreach { case (name, r) =>
      val simple = name.split('.').last.stripSuffix("$")
      if (graftRules.contains(simple)) {
        ruleNs += r.totalTimeNs; inv += r.numInvocations; eff += r.numEffectiveInvocations
      }
    }
    n.put("graft_rules_ns", ruleNs)
    n.put("graft_rule_invocations", inv)
    n.put("graft_rule_effective", eff)
    val ss = scans(qe.executedPlan)
    def metric(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    n.put("scan_rows", ss.map(metric(_, "numOutputRows")).sum)
    n.put("scan_files", ss.map(metric(_, "numFiles")).sum)
    n
  }
}
