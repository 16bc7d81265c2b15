package graft

/** Single-node throughput comparison against the reference engine's
  * wordcount kernel (scripts/ref_kernel_bench.py drives the reference's
  * own map/shuffle/reduce functions from tasks/example_wordcount.py over
  * the same corpus bytes; BASELINE.md records the results).
  *
  * Times BOTH graft paths on `<dir>/documents.parquet`:
  *   - `wordcount`: the declarative q02 plan (scan → explode → partial
  *     agg → one word-keyed exchange), and
  *   - `mr_wordcount`: the q03 MapReduce-kernel path (`graft.mr.MRJob` —
  *     the same map → multicast shuffle → sort-group → reduce contract
  *     the reference executes).
  * Warm-up first (JIT/codegen paid once, as in Bench), then `reps`
  * timed executions each via `toRdd.count()` (plan executed as written,
  * nothing shipped to the driver); best rep is reported.
  *
  * The `accident` mode times the reference's FLAGSHIP task instead
  * (scripts/ref_accident_bench.py is its counterpart): the exact
  * [[operators.Accident.dangerScores]] semantics over the defensive
  * all-string CSV read, on `<dir>/all/accidents.csv` — the same bytes
  * gen_accident_csv.py pre-splits for the reference's workers.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.RefCompare <dir> [reps] [mode]"
  */
object RefCompare {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val mode = if (args.length > 2) args(2) else "wordcount"
    val spark = Harness.session()
    val cpus = Harness.cpus
    def timeBest(run: () => Unit): Double = {
      run() // warm-up
      (1 to reps).map(_ => Harness.timed(run())._2).min
    }
    mode match {
      case "accident" =>
        def acc = spark.read.option("header", "true")
          .csv(s"$dir/all/accidents.csv")
        val t = timeBest(() =>
          operators.Accident.dangerScores(acc).queryExecution.toRdd.count(): Unit)
        val nRows = acc.count()
        // parity dump for scripts/check_accident_parity.py (vs the
        // reference kernel's merged reduce output on the same rows)
        operators.Accident.dangerScores(acc).coalesce(1)
          .write.mode("overwrite").option("header", "true")
          .csv(s"$dir/graft_out")
        println(f"""{"metric":"graft_accident","unit":"sec","cpus":$cpus,"n_rows":$nRows,"danger_scores_sec":$t%.3f,"dir":"$dir"}""")
      case _ =>
        def docs = Tables.documents(spark, dir)
        val declarative = timeBest(() =>
          operators.TextOps.wordcount(docs).queryExecution.toRdd.count(): Unit)
        val kernel = timeBest(() =>
          operators.TextOps.mrWordcount(spark, docs).queryExecution.toRdd.count(): Unit)
        val nDocs = docs.count()
        println(f"""{"metric":"graft_wordcount","unit":"sec","cpus":$cpus,"n_docs":$nDocs,"declarative_sec":$declarative%.3f,"mr_kernel_sec":$kernel%.3f,"dir":"$dir"}""")
    }
    spark.stop()
  }
}
