package graft
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.LongAdder
import scala.util.control.NonFatal
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import operators.GenerationStore.jsonQuote
import operators.StageMemo

object Bench {

  /** Per-stage volume/time counters (the reference's per-phase metrics
    * surface — map/shuffle/reduce times and byte counters per task,
    * worker.py:163–182 — re-expressed as Spark stage metrics): shuffle
    * bytes read/written and executor run time, accumulated across stages
    * and snapshotted per query. */
  private final class IoListener extends SparkListener {
    val read = new LongAdder
    val write = new LongAdder
    val runMs = new LongAdder
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        read.add(m.shuffleReadMetrics.totalBytesRead)
        write.add(m.shuffleWriteMetrics.bytesWritten)
        runMs.add(m.executorRunTime)
      }
    }
    def snapshot: (Long, Long, Long) = (read.sum, write.sum, runMs.sum)
  }

  /** One query's artifact entry: its best (or failing) attempt's time
    * and that attempt's shuffle bytes and executor run time. */
  private final case class Row(name: String, sec: Double, read: Long,
                               write: Long, runMs: Long, failed: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    // warm-up: pay JIT/codegen-compiler/session initialization once,
    // outside any query's timing (otherwise the alphabetically-first
    // query absorbs ~5s of one-time cost). Warm against the BENCH dir —
    // a hardcoded fixture path would silently skip warm-up on hosts
    // without it and inflate the first query by the one-time cost.
    try SparkEntry.queries("q01_impact_agg")(spark, sfDir)
      .queryExecution.toRdd.count()
    catch { case NonFatal(t) =>
      System.err.println(s"[bench] warm-up failed (first query absorbs " +
        s"one-time JIT cost): ${t.getMessage}")
    }
    // toRdd.count(), NOT df.count(): a count-aggregate on top lets
    // Catalyst prune the query's own output columns (a fingerprint query
    // would "run" without hashing anything); toRdd executes the plan as
    // written, every output column evaluated, nothing shipped to driver.
    // Sorted order keeps per-query numbers comparable across rounds.
    //
    // Best-of-N (default 2): committed driver artifacts carry up to 3.5×
    // per-query box-contention noise on single readings (measured r8:
    // q75 5.96 s driver vs 1.69 s quiet-box, identical code) — every
    // round then re-litigates phantom regressions. The minimum of two
    // back-to-back attempts is the standard contention-robust estimator.
    // Before each repeat attempt, the memo entries attempt 1 touched are
    // invalidated (and ONLY those): the repeat re-pays its shared-stage
    // BUILD with the memo active (a memo hit would read ~0 s and the
    // minimum would measure nothing) and leaves the entries repopulated,
    // so the memo state later queries' first attempts rely on is exactly
    // what a single-run bench produces. Shuffle-io counters come from
    // the BEST attempt so time and volume describe the same execution.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    // comma-separated name-prefix filter (dev loops + targeted scale
    // sweeps: SPARK_GRAFT_BENCH_ONLY=q25,q88); empty/unset = full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val (queries, unmatched) = Harness.selected(only)
    // FULL artifact (exact times + per-query shuffle io) → file; the
    // committed BENCH.json is the canonical per-round record. Written
    // incrementally (atomic tmp+move) after EVERY query: a best-of-2
    // suite runs several minutes, and a driver-side timeout/kill
    // mid-run must leave the completed prefix on disk (marked
    // "partial":true) rather than nothing. The final write drops the
    // marker — same artifact shape as always.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    val acc = scala.collection.mutable.ArrayBuffer.empty[Row]
    // a failed query must be VISIBLE in the artifact — a swallowed
    // exception with a near-zero time otherwise reads as a speedup
    def failedArr = acc.filter(_.failed).map(r => jsonQuote(r.name))
      .mkString("[", ",", "]")
    def writeArtifact(): Unit = {
      val qs = acc.map(r => s"${jsonQuote(r.name)}:${r.sec}").mkString("{", ",", "}")
      val ios = acc.map { r =>
        s"${jsonQuote(r.name)}:{\"shuffle_read_mb\":${r.read / 1e6},\"shuffle_write_mb\":${r.write / 1e6},\"executor_run_ms\":${r.runMs}}"
      }.mkString("{", ",", "}")
      val partialKey = if (acc.size < queries.size) "\"partial\":true," else ""
      // provenance keys: a single-run or name-filtered artifact must be
      // distinguishable from the canonical full-suite best-of-N record —
      // without these, cross-round comparisons against differently-
      // configured artifacts are silently apples-to-oranges
      val onlyKey =
        if (only.isEmpty) "" else only.map(jsonQuote).mkString("\"only\":[", ",", "],")
      val json = s"""{"metric":"total","value":${acc.map(_.sec).sum},"unit":"sec",$partialKey"runs":$runs,$onlyKey"queries":$qs,"io":$ios,"failed":$failedArr,"sf":${jsonQuote(sfDir)}}"""
      val tmp = Paths.get(out + ".tmp")
      Files.write(tmp, (json + "\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(out),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      ()
    }
    val failed = Harness.eachQuery("bench", queries) { (name, fn) =>
      var best: Row = null
      var sec = 0.0
      var done = false
      var touched: StageMemo.Touched = null
      def execute(): Unit = { fn(spark, sfDir).queryExecution.toRdd.count(); () }
      try {
        for (attempt <- 0 until runs) {
          // pay accumulated session garbage OUTSIDE the timing: without
          // this, measured multi-query sessions inflate individual queries
          // up to 3x their isolated warm time (GC debt lands on whoever
          // runs next)
          System.gc()
          // drain async listener delivery so stage metrics attribute to
          // the attempt that actually ran them
          ListenerDrain.drain(spark.sparkContext)
          val (r0, w0, m0) = io.snapshot
          val t0 = System.nanoTime()
          try {
            if (attempt == 0) touched = StageMemo.recording(execute())._2
            else {
              if (touched != null) StageMemo.invalidate(touched)
              execute()
            }
          } finally {
            sec = (System.nanoTime() - t0) / 1e9
            ListenerDrain.drain(spark.sparkContext)
          }
          val (r1, w1, m1) = io.snapshot
          if (best == null || sec < best.sec)
            best = Row(name, sec, r1 - r0, w1 - w0, m1 - m0, failed = false)
        }
        done = true
      } finally {
        // ANY failing attempt marks the query failed — a nondeterministic
        // error must be visible, not averaged away — and records the
        // failing attempt's ELAPSED time, not 0.0: a zero would read as a
        // speedup in the total unless the reader cross-checks `failed`
        acc += (if (done) best else Row(name, sec, 0L, 0L, 0L, failed = true))
        writeArtifact()
      }
    }
    val total = acc.map(_.sec).sum
    // stdout gets a COMPACT single line instead: the driver snapshots only
    // a ~2,000-char tail of the run, and the full line (~10 KB with the io
    // map) overflowed it, leaving BENCH_r*.json with "parsed": null — no
    // machine-readable totals for round-over-round comparison. Short qNN
    // keys (the numbering is unique by construction) + 3-decimal times
    // keep all 93 queries + total + failures within ~1.4 KB, so the tail
    // parses even with sbt's trailing "[success]" line.
    val shortQs = acc.map(r => "\"" + r.name.takeWhile(_ != '_') + f"""":${r.sec}%.3f""")
      .mkString("{", ",", "}")
    require(acc.map(_.name.takeWhile(_ != '_')).distinct.size == acc.size,
      "short query keys must stay unique")
    val detail = jsonQuote(s"$out full names + per-query shuffle io")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$shortQs,"failed":$failedArr,"sf":${jsonQuote(sfDir)},"detail":$detail}""")
    spark.stop()
    Harness.exitOn("bench", failed, unmatched)
  }
}
