package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{SessionDefaults, SparkEntry, Tables}
import graft.operators.{AdmissionIndex, StageMemo}

/** Closed-loop benchmark runner: one client, one JVM, one session at
  * `local[cpus]`, running a workload's queries back to back.
  *
  * Steps: set-up (timed from process start), one cold first pass, then
  * timed passes for `seconds` (at least `minTimed`). The cold pass is
  * the only warm-up: pass times keep falling for dozens of passes as the
  * JIT works through the plans, far longer than a run lasts, so a
  * warm-up pass would cost as much as a timed one without settling them.
  * Every pass writes each query's full result as parquet under its own
  * directory, and `StageMemo` is cleared between passes. In a traced run
  * the timed passes alternate traced and untraced, so the trace overhead
  * is measured in the same run. Facts go to a JSON result file that
  * `run.py` turns into metrics and checks; spans go to a JSON-lines file.
  *
  * Arguments are `key=value` pairs; see [[Conf]]. */
object Main {

  final case class Conf(
      workload: String, data: String, run: String, queries: Seq[String],
      tables: Seq[String],
      seconds: Double, trace: Boolean, minTimed: Int, cpus: Int)

  /** Persisted state a workload needs in place before its passes. */
  private def needsProbeIndexes(c: Conf) = c.workload == "admission"

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val c = Conf(
      workload = kv("workload"), data = kv("data"), run = kv("run"),
      queries = kv("queries").split(",").toSeq, tables = kv("tables").split(",").toSeq,
      seconds = kv("seconds").toDouble, trace = kv("trace") == "1",
      minTimed = kv("min_timed").toInt, cpus = kv("cpus").toInt)
    val unknown = c.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Files.writeString(Paths.get(c.run, "oracle_sql.json"),
      Json.obj(c.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> Json.str(_))): _*))
    val out = new Main(c).run()
    Files.writeString(Paths.get(c.run, "result.json"), out)
    ()
  }
}

final class Main(c: Main.Conf) {
  import Main._
  import Json._

  private val indexRoot = Paths.get(sys.env("GRAFT_INDEX_ROOT"))
  private val tracer = new Tracer
  private var attempted = 0L
  private var failed = 0L
  private var spark: SparkSession = _

  private def newSession(): SparkSession = {
    val s = SessionDefaults.tune(SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.run}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.run}/warehouse")
      ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.TopKInstall.install(s)
    s
  }

  /** Register the workload's input tables as views, schemas resolved. */
  private def registerInputs(s: SparkSession): Unit =
    c.tables.foreach { t =>
      val df = if (t == "events") Tables.events(s, c.data) else Tables.load(s, c.data, t)
      df.schema
      df.createOrReplaceTempView(t)
    }

  private def ensureTimed(family: String)(f: => String): Double = {
    val t0 = System.nanoTime()
    f
    val t1 = System.nanoTime()
    tracer.span("ensure", s"AdmissionIndex.ensure.$family", t0, t1)
    (t1 - t0) / 1e9
  }

  /** Build the three front-door index families side by side, as the
    * front door itself does on a cold store, timing each public ensure
    * call. */
  private def buildConcurrently(ensure: Seq[(String, () => String)]): Map[String, Double] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ensure.size)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fs = ensure.map { case (family, f) => Future(family -> ensureTimed(family)(f())) }
      Await.result(Future.sequence(fs), Duration.Inf).toMap
    } finally { pool.shutdownNow(); () }
  }

  /** The default mod-2 index family: q139 probes all three, q148 the text one. */
  private def buildProbeIndexes(): Map[String, Double] = buildConcurrently(Seq(
    "text" -> (() => AdmissionIndex.ensureIndex(spark, c.data)),
    "emb" -> (() => AdmissionIndex.ensureEmbIndex(spark, c.data)),
    "fp" -> (() => AdmissionIndex.ensureFpIndex(spark, c.data))))

  /** Set-up, timed from process start: session up, inputs registered,
    * persisted state in place. */
  private def setup(): (Double, Map[String, Double]) = {
    val t0 = ProcessHandle.current().info().startInstant().get().toEpochMilli
    def since(): Double = (System.currentTimeMillis() - t0) / 1e3
    val tStart = since()
    spark = newSession()
    val tSession = since()
    registerInputs(spark)
    val tInputs = since()
    val builds = if (needsProbeIndexes(c)) buildProbeIndexes() else Map.empty[String, Double]
    System.err.println(f"[perfbench] set-up: main $tStart%.2f s, session $tSession%.2f s, " +
      f"inputs $tInputs%.2f s, state ${since()}%.2f s")
    (since(), builds)
  }

  private final case class Pass(idx: Int, kind: String, traced: Boolean,
      wallS: Double, cpuS: Double, failedQueries: Seq[String],
      queryS: Seq[(String, Double)],
      indexBefore: (Long, Long), indexAfter: (Long, Long), storeAfter: (Long, Long),
      layers: Map[String, Double])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** CPU clock ticks per live JIT compiler thread, from /proc (the
    * thread MXBean does not list them); empty where /proc is missing. */
  private def jitTicks(): Map[String, Long] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) Map.empty
    else {
      val s = Files.list(tasks)
      try s.iterator().asScala.flatMap { t =>
        val stat = try Files.readString(t.resolve("stat")) catch { case NonFatal(_) => "" }
        val comm = stat.slice(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) None
        else {
          val f = stat.drop(stat.lastIndexOf(')') + 2).split(' ')
          Some(t.getFileName.toString -> (f(11).toLong + f(12).toLong)) // utime + stime
        }
      }.toMap
      finally s.close()
    }
  }

  /** JIT compiler CPU seconds since `from`. Compiler threads come and go
    * with the compile queue; one that ends mid-pass (after idling) loses
    * only its last few ticks. */
  private def jitCpuSince(from: Map[String, Long]): Double =
    jitTicks().map { case (tid, n) => n - from.getOrElse(tid, 0L) }.sum / 100.0 // USER_HZ

  private def runPass(idx: Int, kind: String, traced: Boolean): Pass = {
    val indexBefore = Fs.usage(indexRoot, skipSinks = true)
    val dir = s"${c.run}/out/p$idx"
    if (traced) tracer.attach(spark) else tracer.disable()
    tracer.resetPass()
    heapPools.foreach(_.resetPeakUsage())
    val (gc0, cg0) = (gcMs, CodeGenerator.compileTime)
    val cpu0 = osBean.getProcessCpuTime
    val jit0 = jitTicks()
    val passSpan = tracer.open("pass", s"p$idx:$kind")
    val t0 = System.nanoTime()
    val failedQs = ArrayBuffer.empty[String]
    val queryS = ArrayBuffer.empty[(String, Double)]
    c.queries.foreach { q =>
      val qSpan = tracer.open("query", q, passSpan)
      tracer.queryStarted(q, qSpan)
      spark.sparkContext.setJobGroup(q, q)
      attempted += 1
      val tq = System.nanoTime()
      try {
        val tc = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, c.data)
        val tw = System.nanoTime()
        tracer.span("call", q, tc, tw, qSpan)
        tracer.addCall(q, tw - tc)
        df.write.mode("overwrite").parquet(s"$dir/$q")
        tracer.span("write", q, tw, System.nanoTime(), qSpan)
      } catch { case NonFatal(e) =>
        failed += 1
        failedQs += q
        System.err.println(s"[perfbench] $q failed in pass $idx: $e")
      } finally spark.sparkContext.clearJobGroup()
      val tEnd = System.nanoTime()
      tracer.addQuery(q, tq, tEnd)
      queryS += q -> (tEnd - tq) / 1e9
      System.err.println(f"[perfbench] p$idx $q ${queryS.last._2}%.3f s")
      tracer.close(qSpan)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
    val jit = jitCpuSince(jit0)
    tracer.close(passSpan)
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        tracer.detach(spark)
        val storage = spark.sparkContext.getRDDStorageInfo
        tracer.passLayers(wall, c.cpus) ++ Map(
          "planning.codegen_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
          "jvm.gc_s" -> (gcMs - gc0) / 1e3,
          "jvm.jit_cpu_s" -> jit,
          "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1e6,
          "StageMemo.cached_mb" -> storage.map(i => i.memSize + i.diskSize).sum / 1e6,
          "StageMemo.cached_rdds" -> storage.length.toDouble)
      }
    StageMemo.clear(spark)
    Pass(idx, kind, traced, wall, cpu, failedQs.toSeq, queryS.toSeq, indexBefore,
      Fs.usage(indexRoot, skipSinks = true), Fs.usage(indexRoot), layers)
  }

  def run(): String = {
    if (c.trace) tracer.enable()
    val (setupS, builds) = setup()
    val passes = ArrayBuffer.empty[Pass]
    def next(kind: String, traced: Boolean = false): Pass = {
      val p = runPass(passes.size, kind, traced); passes += p; p
    }
    next("first")
    val t0 = System.nanoTime()
    var n = 0
    while (n < c.minTimed || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      next("timed", c.trace && n % 2 == 0); n += 1
    }
    val extra =
      if (c.trace) Functions.measure(spark, c.data).toSeq else Seq.empty
    tracer.writeSpans(Paths.get(c.run, "spans.jsonl"))
    spark.stop()
    obj(
      "setup_s" -> num(setupS),
      "setup_builds" -> obj(builds.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "attempted" -> num(attempted.toDouble),
      "failed" -> num(failed.toDouble),
      "extra" -> obj(extra.map { case (k, v) => k -> num(v) }: _*),
      "passes" -> arr(passes.toSeq.map { p =>
        obj("idx" -> num(p.idx), "kind" -> str(p.kind),
          "traced" -> bool(p.traced), "wall_s" -> num(p.wallS),
          "cpu_s" -> num(p.cpuS),
          "failed" -> arr(p.failedQueries.map(str)),
          "query_s" -> obj(p.queryS.map { case (k, v) => k -> num(v) }: _*),
          "index_before" -> arr(Seq(num(p.indexBefore._1), num(p.indexBefore._2))),
          "index_after" -> arr(Seq(num(p.indexAfter._1), num(p.indexAfter._2))),
          "store_after" -> arr(Seq(num(p.storeAfter._1), num(p.storeAfter._2))),
          "layers" -> obj(p.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*))
      }))
  }
}

/** File helpers for the run's scratch state. */
private[perfbench] object Fs {
  /** (regular files, bytes) under `p`; `skipSinks` leaves out the
    * stream sinks' output directories (`sunk*`) kept beside an index. */
  def usage(p: Path, skipSinks: Boolean = false): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(f => skipSinks &&
          p.relativize(f).iterator().asScala.exists(_.toString.startsWith("sunk")))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
}

/** Just enough JSON writing for the result and span files. */
private[perfbench] object Json {
  type J = String
  def num(d: Double): J =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): J = l.toString
  def num(i: Int): J = i.toString
  def bool(b: Boolean): J = b.toString
  def str(s: String): J = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def arr(xs: Seq[J]): J = xs.mkString("[", ",", "]")
  def obj(kv: (String, J)*): J = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
