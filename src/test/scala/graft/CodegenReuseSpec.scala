package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.operators.StageMemo

/** A long-lived session compiles each distinct generated class once
  * ([[SessionDefaults]]): re-running a query set, with `StageMemo`
  * cleared so every shared stage is re-planned, must hit Spark's codegen
  * cache for every class. `METRIC_COMPILATION_TIME` is updated only on
  * a cache miss, so its count is the number of compiles.
  *
  * The curation set's classes overflow a ~25-entry cache segment at
  * Spark's default cache size; q148's two stream starts run on cloned
  * sessions, which recompile under per-session artifact classloaders.
  *
  * Nor does it re-read what cannot change: a warm front-door call reads
  * no frozen index metadata (hot set, IVF centroids) and infers no index
  * schema, so q139 + q148 stay inside a job budget. */
class CodegenReuseSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Each run starts from an empty `StageMemo`, so both runs plan and
    * build the same stages whatever earlier suites left memoized. */
  private def runSet(names: Seq[String]): Unit = {
    StageMemo.clear(spark)
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count())
  }

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  Seq(
    "curation kernels" -> Seq("q02_wordcount", "q25_dedup_minhash",
      "q61_dedup_keepers", "q28_emb_neardup"),
    "stream starts" -> Seq("q148_stream_sunk")
  ).foreach { case (label, names) =>
    test(s"$label (${names.mkString(", ")}): a second run compiles no class") {
      assume(new java.io.File(sfDir).isDirectory, s"fixture dir $sfDir missing")
      runSet(names)
      val before = compiles
      runSet(names)
      assert(compiles == before, s"${compiles - before} classes recompiled on the second run")
    }
  }

  /** Jobs started while `body` runs: (stage names, SQL execution id),
    * plus the physical plan of every SQL execution started. */
  private def observed(body: => Unit)
      : (Seq[(Seq[String], Option[Long])], Map[Long, String]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Option[Long])]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong)
        jobs.add((e.stageInfos.map(_.name), exec)); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription); ()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerDrain.drain(sc)
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (jobs.asScala.toSeq, plans.asScala.toMap)
  }

  private def q(name: String): Unit = {
    SparkEntry.queries(name)(spark, sfDir).collect(); ()
  }

  /** Jobs one warm q139 call plus one q148 run may start at sf0.001,
    * local[4]: they run 62 (q139 35, q148 27). Before the frozen-metadata
    * cache, the declared index schemas and the one-job bucket manifests
    * the same calls ran 92 (50 + 42). */
  private val AdmissionJobBudget = 70

  test("admission probe: a warm q139 call and a q148 run stay inside the job " +
    "budget; a warm q139 call infers no index schema and reads no hot set " +
    "or centroids") {
    assume(new java.io.File(sfDir).isDirectory, s"fixture dir $sfDir missing")
    q("q139_front_door") // warm: indexes built, frozen metadata read
    val (q139Jobs, q139Plans) = observed(q("q139_front_door"))
    val (q148Jobs, _) = observed(q("q148_stream_sunk"))
    val total = q139Jobs.size + q148Jobs.size
    assert(total <= AdmissionJobBudget,
      s"q139 ran ${q139Jobs.size} jobs and q148 ${q148Jobs.size}: " +
        s"$total > $AdmissionJobBudget")
    val inferred = q139Jobs.flatMap(_._1)
      .filter(_.startsWith("parquet at AdmissionIndex"))
    assert(inferred.isEmpty, s"warm q139 inferred index schemas: $inferred")
    // a read of a frozen table is a SQL execution scanning its directory
    val frozen = "/(hot|centroids)[\\],]".r
    val frozenReads = q139Jobs.flatMap(_._2).distinct
      .flatMap(q139Plans.get).filter(p => frozen.findFirstIn(p).isDefined)
    assert(frozenReads.isEmpty,
      s"warm q139 re-read frozen index metadata:\n${frozenReads.mkString("\n")}")
  }
}
