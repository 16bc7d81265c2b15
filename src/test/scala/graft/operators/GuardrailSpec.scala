package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Broadcast-size guardrails: the langId profile and the contamination
  * benchmark array are broadcast-side structures that grow with open
  * vocabularies / misuse. These pin (a) the loud in-plan guard and (b)
  * result-identical join fallback paths for when the bound is real. */
class GuardrailSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "en", "a", 40, "the cat sat on the mat near the red door"),
    (1L, "en", "a", 38, "the dog sat on the mat by the old door"),
    (2L, "fr", "b", 30, "le chat est sur le tapis rouge ici"),
    (3L, "fr", "b", 28, "le chien est sur le tapis vert la"),
    (4L, "en", "a", 36, "a cat and a dog sat near the same mat"),
    (50L, "en", "a", 40, "the cat sat on the mat near the red door"),
    (100L, "fr", "b", 30, "le chat est sur le tapis rouge ici")
  ).toDF("doc_id", "lang", "source", "n_chars", "text")

  test("langId join fallback matches the broadcast path exactly") {
    val bc = TextAnalysis.langId(docs).collect().map(_.toSeq).toSeq
    val jn = TextAnalysis.langId(docs, broadcastProfile = false)
      .collect().map(_.toSeq).toSeq
    assert(bc == jn)
    assert(bc.nonEmpty)
  }

  test("langId fallback survives with auto-broadcast disabled (a real " +
    "shuffle join, the open-vocabulary path)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = TextAnalysis.langId(docs, broadcastProfile = false)
      out.collect()
      val p = out.queryExecution.executedPlan.toString
      // the open-vocabulary hazard is the |V|·|L| PROFILE side — pin that
      // the join on the token column `w` is not a broadcast join. The
      // |L|-row floor table and 1-row floor champion keep their explicit
      // broadcast hints (bounded by language count, not vocabulary).
      val wBroadcast = p.linesIterator.exists(ln =>
        ln.contains("BroadcastHashJoin") && ln.contains("[w#"))
      assert(!wBroadcast, p.take(800))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("langId raises loudly when the profile exceeds the broadcast bound") {
    val e = intercept[Exception] {
      TextAnalysis.langId(docs, maxProfileRows = 2L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("broadcastProfile = false")),
      e.toString)
  }

  test("contamination join fallback matches the broadcast path exactly") {
    val bc = Pipeline.contamination(docs).collect().map(_.toSeq).toSeq
    val jn = Pipeline.contamination(docs, broadcastBench = false)
      .collect().map(_.toSeq).toSeq
    assert(bc == jn)
    assert(bc.nonEmpty)
  }

  test("contamination raises loudly when the benchmark set exceeds the " +
    "single-array bound") {
    val e = intercept[Exception] {
      Pipeline.contamination(docs, maxBenchShingles = 1L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("broadcastBench = false")),
      e.toString)
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))

  test("boundedWindowSql: single-partition window raises past its row " +
    "ceiling, passes under it, with identical values") {
    val df = (1 to 5).toDF("x")
    def run(max: Long) = df.select(expr(Guards.boundedWindowSql(max,
      "spec table", "SUM(x) OVER ()", "BIGINT")).as("s")).collect()
    assert(run(5L).map(_.getLong(0)).toSeq == Seq.fill(5)(15L))
    val e = intercept[Exception](run(4L))
    assert(messages(e).exists(m =>
      m != null && m.contains("single-partition-window bound 4")), e.toString)
  }

  test("difficultyBins / mixTemperature / shardBalance run green under " +
    "their in-plan window ceilings on real-shaped input") {
    // the production ceilings are far above fixture scale — this pins
    // that adding the guard changed NOTHING for bounded inputs
    assert(TextAnalysis.difficultyBins(docs, bins = 3).collect().nonEmpty)
    assert(Pipeline.mixTemperature(docs).collect().nonEmpty)
    assert(Pipeline.shardBalance(docs, shards = 4).collect().nonEmpty)
  }

  test("clusterReps raises loudly when a component percolates past " +
    "maxClusterSize (and stays green at the default bound)") {
    // 4 near-identical embeddings at threshold 0.4 form ONE component
    // of size 4 — over a bound of 3, under the 10⁹ default
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f, 0.0f)),
      (1L, Array(1.0f, 0.01f, 0.1f, 0.0f)),
      (2L, Array(0.99f, 0.0f, 0.11f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.09f, 0.01f))
    ).toDF("vec_id", "embedding")
    val ok = Similarity.clusterReps(emb, threshold = 0.4)
    val rows = ok.collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 4L,
      rows.mkString(","))
    val e = intercept[Exception] {
      Similarity.clusterReps(emb, threshold = 0.4, maxClusterSize = 3L)
        .collect()
    }
    assert(messages(e).exists(m =>
      m != null && m.contains("percolated")), e.toString)
  }

  // The two superlinear guards at a real budget (TRIPWIRE_r10.json holds
  // the same checks at 10× these sizes): each fires on a degenerate input
  // from its exact volume census, and the remediation its message names
  // then completes.

  test("simhashDedup guard fires on an exact-dup cluster and the same " +
    "budget completes over 4 shards") {
    // 3,000 docs, 1,200 of them one exact-dup cluster (every member in
    // the same 4 band buckets): 4 × 1200·1199/2 ≈ 2.9e6 candidates from
    // the cluster alone, 4 × 300·299/2 ≈ 1.8e5 per doc_id % 4 shard
    val dupText = "the same boilerplate sentence repeated across the " +
      "degenerate cluster of this corpus forever and ever"
    val corpus = spark.range(3000).select(
      col("id").as("doc_id"),
      when(col("id") < 1200, lit(dupText))
        .otherwise(concat(lit("unique document body number "), col("id"),
          lit(" with distinct salt "), md5(col("id").cast("string"))))
        .as("text"))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .persist()
    try {
      val budget = 1000000L
      val e = intercept[Exception] {
        Dedup.simhashDedup(corpus, maxCandidates = budget).collect()
      }
      assert(messages(e).exists(m => m != null &&
        m.contains(s"band-collision candidates > maxCandidates $budget")), e.toString)
      val shardPairs = (0 until 4).map { s =>
        Dedup.simhashDedup(corpus.filter(col("doc_id") % 4 === s),
          maxCandidates = budget).count()
      }.sum
      // every within-shard pair of the cluster is found (hamming 0)
      assert(shardPairs >= 4L * 300 * 299 / 2, shardPairs)
    } finally { corpus.unpersist(); () }
  }

  test("triangleCensus guard fires on a near-identical clique and a " +
    "bound raised to the censused volume completes") {
    // 200 identical vectors (a clique, ≈ 200³/6 wedges) + 400 spread
    val dims = 16
    val cliqueBase = Array.tabulate(dims)(i => 0.5f + 0.01f * i)
    val vecs = spark.range(600).map { id =>
      val v =
        if (id < 200) cliqueBase.clone()
        else Array.tabulate(dims)(i => math.sin(id * 37.0 + i * 101.0).toFloat)
      (id, v)
    }.toDF("vec_id", "embedding").persist()
    try {
      val budget = 500000L
      val e = intercept[Exception] {
        Similarity.triangleCensus(vecs, maxWedges = budget).collect()
      }
      val volume = Similarity.wedgeVolume(vecs, threshold = 0.4)
      assert(volume > budget, volume)
      assert(messages(e).exists(m => m != null &&
        m.contains(s"triangleCensus: $volume wedges > maxWedges $budget")), e.toString)
      val hist = Similarity.triangleCensus(vecs, maxWedges = volume).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // each clique member closes C(199, 2) triangles inside the clique
      assert(hist.keys.exists(_ >= 199L * 198 / 2), hist)
    } finally { vecs.unpersist(); () }
  }
}
