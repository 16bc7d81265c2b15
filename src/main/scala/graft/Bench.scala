package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

object Bench {

  /** Per-stage volume/time counters (the reference's per-phase metrics
    * surface — map/shuffle/reduce times and byte counters per task,
    * worker.py:163–182 — re-expressed as Spark stage metrics): shuffle
    * bytes read/written and executor run time, accumulated across stages
    * and snapshotted per query. */
  private final class IoListener extends SparkListener {
    val read = new java.util.concurrent.atomic.LongAdder
    val write = new java.util.concurrent.atomic.LongAdder
    val runMs = new java.util.concurrent.atomic.LongAdder
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        read.add(m.shuffleReadMetrics.totalBytesRead)
        write.add(m.shuffleWriteMetrics.bytesWritten)
        runMs.add(m.executorRunTime)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionDefaults.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      ).getOrCreate()
    // default WARN; SPARK_GRAFT_LOG=INFO turns on DAGScheduler job lines
    // ("Job N finished: <callsite>, took X ms") for per-job attribution
    // of a query's wall time in isolated profiling runs (guide §1) —
    // output format and timing methodology unchanged
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    // install the TopK rewrite session-wide (idempotent): q09/q63 install
    // it lazily, which would otherwise make every LATER row_number<=k
    // query's plan depend on execution order — installed-up-front, all
    // runs (full or filtered) plan identically
    plans.TopKInstall.install(spark)
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
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
    // minimal JSON string escaping for the env-sourced path (Verify.q
    // does the full version; paths only need backslash + quote)
    val sfEsc = sfDir.replace("\\", "\\\\").replace("\"", "\\\"")
    // FULL artifact (exact times + per-query shuffle io) → file; the
    // committed BENCH.json is the canonical per-round record. Written
    // incrementally (atomic tmp+move) after EVERY query: a best-of-2
    // suite runs several minutes, and a driver-side timeout/kill
    // mid-run must leave the completed prefix on disk (marked
    // "partial":true) rather than nothing. The final write drops the
    // marker — same artifact shape as always.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    def writeArtifact(res: Seq[(String, Double, Long, Long, Long, Boolean)],
                      partial: Boolean): Unit = {
      val qs = res.map { case (k, v, _, _, _, _) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val ios = res.map { case (k, _, r, w, m, _) =>
        s"\"$k\":{\"shuffle_read_mb\":${r / 1e6},\"shuffle_write_mb\":${w / 1e6},\"executor_run_ms\":$m}"
      }.mkString("{", ",", "}")
      // a failed query must be VISIBLE in the artifact — a swallowed
      // exception with a near-zero time otherwise reads as a speedup
      val failedArr = res.collect { case (k, _, _, _, _, true) => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      val partialKey = if (partial) "\"partial\":true," else ""
      // provenance keys: a single-run or name-filtered artifact must be
      // distinguishable from the canonical full-suite best-of-N record —
      // without these, cross-round comparisons against differently-
      // configured artifacts are silently apples-to-oranges
      val onlyKey =
        if (only.isEmpty) ""
        else only.map(o => "\"" + o + "\"").mkString("\"only\":[", ",", "],")
      val json = s"""{"metric":"total","value":${res.map(_._2).sum},"unit":"sec",$partialKey"runs":$runs,$onlyKey"queries":$qs,"io":$ios,"failed":$failedArr,"sf":"$sfEsc"}"""
      val tmp = java.nio.file.Paths.get(out + ".tmp")
      java.nio.file.Files.write(tmp, (json + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(out),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Long, Long, Long, Boolean)]
    selected.foreach { case (name, fn) =>
      var best: (Double, Long, Long, Long) = null
      var failed = false
      var failSec = 0.0
      var attempt = 0
      var touched: graft.operators.StageMemo.Touched = null
      while (attempt < runs && !failed) {
        // pay accumulated session garbage OUTSIDE the timing: without
        // this, measured multi-query sessions inflate individual queries
        // up to 3x their isolated warm time (GC debt lands on whoever
        // runs next)
        System.gc()
        // drain async listener delivery so stage metrics attribute to
        // the attempt that actually ran them
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        val (r0, w0, m0) = (io.read.sum, io.write.sum, io.runMs.sum)
        val t0 = System.nanoTime()
        def execute(): Unit = { fn(spark, sfDir).queryExecution.toRdd.count(); () }
        try {
          if (attempt == 0)
            touched = graft.operators.StageMemo.recording(execute())._2
          else {
            if (touched != null) graft.operators.StageMemo.invalidate(touched)
            execute()
          }
        } catch { case NonFatal(t) =>
          System.err.println(s"[bench] $name FAILED (attempt ${attempt + 1}): " +
            t.getMessage)
          // ANY failing attempt marks the query failed — a
          // nondeterministic error must be visible, not averaged away
          failed = true
        }
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        if (!failed && (best == null || sec < best._1))
          best = (sec, io.read.sum - r0, io.write.sum - w0, io.runMs.sum - m0)
        else if (failed) failSec = sec
        attempt += 1
      }
      // a failed query records the failing attempt's ELAPSED time, not
      // 0.0 — a zero would read as a speedup in the total unless the
      // reader cross-checks the failed array (the exact hazard the
      // artifact's failed key exists to prevent)
      if (best == null) best = (failSec, 0L, 0L, 0L)
      acc += ((name, best._1, best._2, best._3, best._4, failed))
      writeArtifact(acc.toSeq, partial = acc.size < selected.size)
    }
    val results = acc.toSeq
    val total = results.map(_._2).sum
    val failedArr = results.collect { case (k, _, _, _, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // stdout gets a COMPACT single line instead: the driver snapshots only
    // a ~2,000-char tail of the run, and the full line (~10 KB with the io
    // map) overflowed it, leaving BENCH_r*.json with "parsed": null — no
    // machine-readable totals for round-over-round comparison. Short qNN
    // keys (the numbering is unique by construction) + 3-decimal times
    // keep all 93 queries + total + failures within ~1.4 KB, so the tail
    // parses even with sbt's trailing "[success]" line.
    val shortQs = results.map { case (k, v, _, _, _, _) =>
      "\"" + k.takeWhile(_ != '_') + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    require(results.map(_._1.takeWhile(_ != '_')).distinct.size == results.size,
      "short query keys must stay unique")
    // same escaping as sfDir: the output path is env-sourced too
    val outEsc = out.replace("\\", "\\\\").replace("\"", "\\\"")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$shortQs,"failed":$failedArr,"sf":"$sfEsc","detail":"$outEsc full names + per-query shuffle io"}""")
    spark.stop()
  }
}
