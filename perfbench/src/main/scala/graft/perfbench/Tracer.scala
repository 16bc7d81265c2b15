package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec,
  QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-pass layer counters, taken from outside the program:
  * around the runner's calls into `SparkEntry`/`AdmissionIndex`, and
  * from Spark's public listener interfaces (scheduler, query execution,
  * streaming progress). Spans stay in memory and are written at exit.
  *
  * Span times are milliseconds since the tracer was created. Spark's
  * job and stage spans hang off the query span through the job group
  * (the query name); planning-phase spans hang off the query span whose
  * interval holds them, since queries run one after another. */
final class Tracer {
  import Json._

  private final case class Span(id: Long, parent: Long, kind: String,
      name: String, startMs: Double, endMs: Double,
      attrs: Seq[(String, Double)])

  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  private def fromNanos(ns: Long): Double = (ns - baseNs) / 1e6
  private def fromEpoch(ms: Long): Double = (ms - baseEpochMs).toDouble

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val openSpans = mutable.Map.empty[Long, (Long, String, String, Long)]
  @volatile private var on = false

  def enable(): Unit = on = true
  def disable(): Unit = on = false

  /** Open a span now; returns its id (0 when tracing is off). */
  def open(kind: String, name: String, parent: Long = 0L): Long =
    if (!on) 0L
    else synchronized {
      val id = ids.incrementAndGet()
      openSpans(id) = (parent, kind, name, System.nanoTime()); id
    }

  def close(id: Long): Unit = if (id != 0L) synchronized {
    openSpans.remove(id).foreach { case (parent, kind, name, t0) =>
      spans += Span(id, parent, kind, name, fromNanos(t0),
        fromNanos(System.nanoTime()), Nil)
    }
  }

  /** Record a finished span from `System.nanoTime` readings. */
  def span(kind: String, name: String, t0: Long, t1: Long, parent: Long = 0L): Unit =
    if (on) synchronized {
      spans += Span(ids.incrementAndGet(), parent, kind, name,
        fromNanos(t0), fromNanos(t1), Nil)
    }

  private def add(kind: String, name: String, startMs: Double, endMs: Double,
                  parent: Long, attrs: (String, Double)*): Long = synchronized {
    val id = ids.incrementAndGet()
    spans += Span(id, parent, kind, name, startMs, endMs, attrs); id
  }

  // ---- per-pass counters (reset at pass start, read after a drain) ----

  private final class PassCounters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L
    var shWrite = 0L; var shRead = 0L; var shRecords = 0L
    var shWriteNs = 0L; var fetchWaitMs = 0L; var spill = 0L
    var planMs = 0L; var scanMs = 0L
    var batches = 0L; var rows = 0L
    val batchMs = ArrayBuffer.empty[Double]
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
    val callNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val queryNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val queryWindows = ArrayBuffer.empty[(String, Long, Long)] // query, epoch ms
    val stageCpuNs = ArrayBuffer.empty[(Int, Long)] // job, executor CPU
  }
  private var pc = new PassCounters
  private val jobOf = mutable.Map.empty[Int, (Long, Option[String], Long)] // job -> query span, group, start
  private val jobSpan = mutable.Map.empty[Int, Long] // job -> its span, kept for the whole run
  private val stageParent = mutable.Map.empty[Long, Int] // stage span -> job
  private val stageJob = mutable.Map.empty[Int, Int]
  private val querySpanOf = mutable.Map.empty[String, Long]

  def resetPass(): Unit = synchronized {
    pc = new PassCounters; jobOf.clear(); stageJob.clear(); querySpanOf.clear()
  }

  def queryStarted(q: String, spanId: Long): Unit = synchronized { querySpanOf(q) = spanId }
  def addCall(q: String, ns: Long): Unit = synchronized { pc.callNs(q) += ns }
  def addQuery(q: String, t0: Long, t1: Long): Unit = synchronized {
    pc.queryNs(q) += t1 - t0
    pc.queryWindows += ((q, baseEpochMs + (t0 - baseNs) / 1000000, baseEpochMs + (t1 - baseNs) / 1000000))
  }

  /** The query a job ran for: its job group, or, for jobs started under
    * another group (a stream's micro-batches), the query running then. */
  private def queryOfJob(job: Int): Option[String] = jobOf.get(job).flatMap {
    case (_, group, start) => group.filter(querySpanOf.contains).orElse(
      pc.queryWindows.find { case (_, s, e) => s <= start && start <= e }.map(_._1))
  }

  private object SchedulerL extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.flatMap(querySpanOf.get).getOrElse(0L)
      jobOf(e.jobId) = (parent, group, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOf.get(e.jobId).foreach { case (parent, group, start) =>
        pc.jobs += 1
        pc.jobIntervals += ((start, e.time))
        jobSpan(e.jobId) = add("job", s"job-${e.jobId}:${group.getOrElse("")}",
          fromEpoch(start), fromEpoch(e.time), parent)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      val m = info.taskMetrics
      pc.stages += 1
      pc.tasks += info.numTasks
      if (m != null) {
        pc.cpuNs += m.executorCpuTime
        pc.runMs += m.executorRunTime
        pc.gcMs += m.jvmGCTime
        pc.inBytes += m.inputMetrics.bytesRead
        pc.inRows += m.inputMetrics.recordsRead
        pc.shWrite += m.shuffleWriteMetrics.bytesWritten
        pc.shRecords += m.shuffleWriteMetrics.recordsWritten
        pc.shWriteNs += m.shuffleWriteMetrics.writeTime
        pc.shRead += m.shuffleReadMetrics.totalBytesRead
        pc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        pc.spill += m.diskBytesSpilled
        stageJob.get(info.stageId).foreach(j => pc.stageCpuNs += ((j, m.executorCpuTime)))
        val id = add("stage", s"stage-${info.stageId}:${info.name}",
          fromEpoch(info.submissionTime.getOrElse(0L)),
          fromEpoch(info.completionTime.getOrElse(0L)), 0L,
          "cpu_ms" -> m.executorCpuTime / 1e6, "tasks" -> info.numTasks.toDouble)
        // parent set at write time: a job's span exists only once it ends
        stageJob.get(info.stageId).foreach(j => stageParent(id) = j)
      }
    }
  }
  private object QueryL extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val scan = try PlanWalk.scanMs(qe.executedPlan)
        catch { case scala.util.control.NonFatal(_) => 0L }
      Tracer.this.synchronized {
        pc.scanMs += scan
        phases.foreach { case (phase, s) =>
          pc.planMs += s.durationMs
          add("plan", phase, fromEpoch(s.startTimeMs), fromEpoch(s.endTimeMs), 0L)
        }
      }
    }
  }

  private object StreamL extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        pc.batches += 1
        pc.rows += p.numInputRows
        pc.batchMs += p.batchDuration.toDouble
        val end = fromEpoch(System.currentTimeMillis())
        add("batch", s"batch-${p.batchId}", end - p.batchDuration, end, 0L,
          "rows" -> p.numInputRows.toDouble)
      }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(SchedulerL)
    s.listenerManager.register(QueryL)
    s.streams.addListener(StreamL)
    on = true
  }

  def detach(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(SchedulerL)
    s.listenerManager.unregister(QueryL)
    s.streams.removeListener(StreamL)
    on = false
  }

  /** Wall time covered by at least one job. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** The pass's layer metrics (call after a listener drain). */
  def passLayers(wallS: Double, cpus: Int): Map[String, Double] = synchronized {
    val execCpu = pc.cpuNs / 1e9
    val runS = pc.runMs / 1e3
    val scanS = pc.scanMs / 1e3
    val shWriteS = pc.shWriteNs / 1e9
    val fetchS = pc.fetchWaitMs / 1e3
    val jobsS = covered(pc.jobIntervals.toSeq) / 1e3
    val cpuOf = pc.stageCpuNs.toSeq.flatMap { case (j, ns) => queryOfJob(j).map(_ -> ns) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val families = Families.all.flatMap { f =>
      val qs = pc.queryNs.keys.toSeq.filter(q => Families.of(q) == f)
      Seq(s"operators.$f.s" -> qs.map(pc.queryNs).sum / 1e9,
        s"operators.$f.cpu_s" -> qs.map(cpuOf.getOrElse(_, 0L)).sum / 1e9)
    }
    Map(
      "planning.call_s" -> pc.callNs.values.sum / 1e9,
      "planning.plan_s" -> pc.planMs / 1e3,
      "planning.jobs" -> pc.jobs.toDouble,
      "planning.core_util" -> execCpu / (cpus * wallS),
      "exec.cpu_s" -> execCpu,
      "exec.run_s" -> runS,
      "exec.gc_s" -> pc.gcMs / 1e3,
      "exec.tasks" -> pc.tasks.toDouble,
      "exec.stages" -> pc.stages.toDouble,
      "sources.input_mb" -> pc.inBytes / 1e6,
      "sources.input_rows" -> pc.inRows.toDouble,
      "sources.scan_s" -> scanS,
      "shuffle.write_mb" -> pc.shWrite / 1e6,
      "shuffle.read_mb" -> pc.shRead / 1e6,
      "shuffle.records" -> pc.shRecords.toDouble,
      "shuffle.write_s" -> shWriteS,
      "shuffle.fetch_wait_s" -> fetchS,
      "shuffle.spill_mb" -> pc.spill / 1e6,
      "streaming.batches" -> pc.batches.toDouble,
      "streaming.batch_ms" -> median(pc.batchMs.toSeq),
      "streaming.rows" -> pc.rows.toDouble,
      "self.outside_jobs_s" -> math.max(0.0, wallS - jobsS),
      "self.jobs_s" -> jobsS,
      "self.exec_compute_s" -> math.max(0.0, runS - scanS - shWriteS - fetchS)
    ) ++ families
  }

  /** Write every span as one JSON object per line. */
  def writeSpans(path: Path): Unit = synchronized {
    val queries = spans.filter(_.kind == "query").sortBy(_.startMs)
    def queryAt(ms: Double): Long =
      queries.find(q => q.startMs <= ms && ms <= q.endMs).map(_.id).getOrElse(0L)
    val w = Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val parent = s.kind match {
        case "stage" => stageParent.get(s.id).flatMap(jobSpan.get).getOrElse(0L)
        case "job" | "plan" | "batch" if s.parent == 0L => queryAt(s.startMs)
        case _ => s.parent
      }
      w.write(obj(Seq("id" -> num(s.id), "parent" -> num(parent),
        "kind" -> str(s.kind), "name" -> str(s.name),
        "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs)) ++
        s.attrs.map { case (k, v) => k -> num(v) }: _*))
      w.newLine()
    } finally w.close()
  }
}

/** Scan-node time from a finished plan, through AQE stages, command
  * wrappers and subqueries (reused exchanges counted once). */
private[perfbench] object PlanWalk {
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
      case other => other.children ++ other.subqueries
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }

  def scanMs(p: SparkPlan): Long = nodes(p).collect {
    case s: FileSourceScanExec => s.metrics.get("scanTime").map(_.value).getOrElse(0L)
  }.sum
}

/** The operator object each workload query calls (per SparkEntry). */
private[perfbench] object Families {
  private val byQuery: Seq[(String, String)] = Seq(
    "q01_impact_agg" -> "Relational",
    "q05_join_star" -> "Joins",
    "q09_window_topk" -> "Windows",
    "q17_topk" -> "SetAggOps",
    "q90_retention" -> "EventOps",
    "q02_wordcount" -> "TextOps",
    "q32_quality" -> "TextAnalysis",
    "q25_dedup_minhash" -> "Dedup",
    "q61_dedup_keepers" -> "Dedup",
    "q28_emb_neardup" -> "Similarity",
    "q50_pii_scrub" -> "Pipeline",
    "q139_front_door" -> "AdmissionIndex",
    "q148_stream_sunk" -> "AdmissionIndex")

  val all: Seq[String] = byQuery.map(_._2).distinct

  def of(query: String): String = byQuery.toMap.getOrElse(query, "other")
}
