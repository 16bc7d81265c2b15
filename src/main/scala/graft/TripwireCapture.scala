package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fire the two contract-bound superlinear tripwires at their firing
  * points and prove the documented remediation path succeeds — evidence
  * that "loud at scale" is executable, not a comment.
  *
  * Two guards (both in-plan `raise_error` on an exact volume census
  * computed BEFORE the superlinear join materializes):
  *
  *  - q26 `simhashDedup(maxCandidates)`: band-collision candidate
  *    volume Σ c·(c−1)/2. Degenerate fixture: a corpus where 40% of
  *    docs are one exact-duplicate cluster — every member lands in the
  *    same 4 band buckets, collision volume quadratic in the cluster.
  *    Remediation (per the error text): shard the input — the same
  *    query over shards of the corpus completes under the same budget.
  *  - q123 `triangleCensus(maxWedges)`: wedge volume Σ nlo·nhi.
  *    Degenerate fixture: a percolated clique (near-identical vectors)
  *    — wedges cubic in the clique. Remediation: after the capacity
  *    check (the guard IS the capacity check), re-run with an
  *    explicitly raised bound sized to the censused volume — the run
  *    completes and reports the clique's triangle histogram.
  *
  * The artifact records: time-to-raise (the guard must be cheap — a
  * linear rollup, seconds, vs the cluster-days the unguarded join
  * would burn), the exact error message, and the remediation's result
  * + time. Writes TRIPWIRE.json (override: SPARK_GRAFT_TRIPWIRE_OUT). */
object TripwireCapture {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val out = sys.env.getOrElse("SPARK_GRAFT_TRIPWIRE_OUT", "TRIPWIRE.json")
    val spark = SessionDefaults.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def fireMessage(f: => Unit): String =
      try { f; "GUARD DID NOT FIRE" }
      catch { case NonFatal(t) =>
        // raise_error surfaces as SparkRuntimeException (USER_RAISED_
        // EXCEPTION) wrapped in task failure layers; walk to the root.
        // getMessage may legitimately be null on a cause link — guard
        // it, or the capture tool NPEs instead of recording the firing
        def msg(x: Throwable) = Option(x.getMessage).getOrElse("")
        var cur = t
        while (cur.getCause != null && !msg(cur).contains("simhashDedup") &&
          !msg(cur).contains("triangleCensus")) cur = cur.getCause
        msg(cur).replace("\n", " ").take(400)
      }
    def esc(s: String): String = Verify.jsonQuote(s)

    // ---- q26: simhash band-collision guard --------------------------
    // 30k docs, 12k of them one exact-dup cluster (unique salt token
    // keeps the other 18k docs distinct). Collision volume from the
    // cluster alone: 4 bands x 12k^2/2 = 2.9e8 > the 1e8 budget.
    val dupText = "the same boilerplate sentence repeated across the " +
      "degenerate cluster of this corpus forever and ever"
    val docs = spark.range(30000).select(
      col("id").as("doc_id"),
      when(col("id") < 12000, lit(dupText))
        .otherwise(concat(lit("unique document body number "),
          col("id"), lit(" with distinct salt "), md5(col("id").cast("string"))))
        .as("text"))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .persist()
    docs.count()
    val budget26 = 100000000L
    val (msg26, fire26) = timed(fireMessage(
      graft.operators.Dedup.simhashDedup(docs, maxCandidates = budget26)
        .queryExecution.toRdd.count()))
    require(msg26.contains("simhashDedup"), s"q26 guard did not fire: $msg26")
    // remediation: shard the input (the error text's first suggestion).
    // 4 shards of 7.5k docs: worst shard volume 4 x (12k/4)^2/2 = 1.8e7,
    // under the same budget; the dup pairs WITHIN each shard still list.
    val (shardRows, fix26) = timed(
      (0 until 4).map { s =>
        graft.operators.Dedup.simhashDedup(
          docs.filter(col("doc_id") % 4 === s), maxCandidates = budget26)
          .count()
      }.sum)

    // ---- q123: triangle wedge guard ---------------------------------
    // 500-vector near-identical clique + 1500 spread vectors: wedges
    // ~ 500^3/6 = 2.1e7 > the 5e6 budget.
    val dims = 16
    val cliqueBase = Array.tabulate(dims)(i => 0.5f + 0.01f * i)
    val vecs = spark.range(2000).map { id =>
      val v =
        if (id < 500) cliqueBase.clone()
        else Array.tabulate(dims)(i =>
          math.sin(id * 37.0 + i * 101.0).toFloat) // spread, low pairwise cos
      (id, v, "0")
    }.toDF("vec_id", "embedding", "label").persist()
    vecs.count()
    val budget123 = 5000000L
    val (msg123, fire123) = timed(fireMessage(
      graft.operators.Similarity.triangleCensus(vecs, maxWedges = budget123)
        .queryExecution.toRdd.count()))
    require(msg123.contains("triangleCensus"), s"q123 guard did not fire: $msg123")
    // remediation: the guard's census says HOW big the graph is; re-run
    // with the bound raised past the censused volume (a deliberate,
    // sized decision — not a default) and the cubic join completes.
    val (censusRows, fix123) = timed(
      graft.operators.Similarity.triangleCensus(vecs, maxWedges = 1000000000L)
        .count())

    val json = f"""{
      |"q26_simhash_collision_guard": {
      |  "fixture": "30000 docs, 12000-doc exact-dup cluster",
      |  "budget": $budget26,
      |  "fired": true,
      |  "time_to_raise_sec": $fire26%.2f,
      |  "message": ${esc(msg26)},
      |  "remediation": "shard the input (4 shards, same budget)",
      |  "remediation_rows": $shardRows,
      |  "remediation_sec": $fix26%.2f
      |},
      |"q123_wedge_guard": {
      |  "fixture": "2000 vecs, 500-vec near-identical clique + correlated spread",
      |  "budget": $budget123,
      |  "fired": true,
      |  "time_to_raise_sec": $fire123%.2f,
      |  "message": ${esc(msg123)},
      |  "remediation": "raise maxWedges past the censused volume (sized decision)",
      |  "remediation_rows": $censusRows,
      |  "remediation_sec": $fix123%.2f
      |}
      |}""".stripMargin
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
