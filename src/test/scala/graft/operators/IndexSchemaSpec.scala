package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The declared index schemas ([[AdmissionIndex.SubTableSchemas]]) are
  * the schemas the writers produce, and the frozen per-root metadata
  * cache ([[GenerationStore.FrozenMeta]]) follows root rebuilds and
  * corpus generations. One synthetic corpus in a temp dir goes through
  * the composed front-door lifecycle (q143's shape): all three tiers are
  * built and one admitted batch is folded into each. */
class IndexSchemaSpec extends SparkSpec {
  import spark.implicits._
  private val AI = AdmissionIndex
  private val marker = "_GRAFT_INDEX_OK"

  /** 120 docs of 24 random words and one random 32-dim vector per doc:
    * nearly every doc is novel on every tier, so each fold admits rows. */
  private lazy val sfDir: String = {
    val d = Files.createTempDirectory("graft-index-schema").toString
    val docs = (0L until 120L).map { id =>
      val r = new scala.util.Random(id)
      (id, Seq.fill(24)(s"w${r.nextInt(400)}").mkString(" "))
    }
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$d/documents.parquet")
    docs.map { case (id, _) =>
      val r = new scala.util.Random(1000 + id)
      (id, Seq.fill(32)(r.nextFloat() * 2 - 1), (id % 5).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  private def ensureText(): String = AI.ensureIndex(spark, sfDir,
    baseMod = 3, famTag = "fd")
  private def ensureEmb(): String = AI.ensureEmbIndex(spark, sfDir,
    baseMod = 3, famTag = "fd")

  /** (text, emb, fp) dirs of the lifecycle's index family, after one
    * lifecycle run folded its first batch into all three. */
  private lazy val dirs: (String, String, String) = {
    AI.frontDoorLifecycle(spark, sfDir).collect()
    val d = AI.ensureFrontDoorIndexes(spark, sfDir, Dedup.DefaultThreshold,
      Dedup.DefaultMaxDfFrac, AI.EmbCentroids, baseMod = 3, famTag = "fd")
    // the corpus path keys prefix every index dir and snapshot it owns
    pathKeys = Seq(d._1, d._2).map(x =>
      Paths.get(x).getFileName.toString.split("-")(0) + "-")
    d
  }
  @volatile private var pathKeys = Seq.empty[String]

  private def batch: DataFrame =
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 3 === 2)
  private def vecs: DataFrame =
    graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") % 3 === 2)

  private def fields(s: StructType): Seq[(String, org.apache.spark.sql.types.DataType)] =
    s.fields.toSeq.map(f => f.name -> f.dataType)

  private def checkSchema(root: String, sub: String): Unit = {
    val inferred = fields(spark.read.parquet(s"$root/$sub").schema)
    assert(inferred == fields(AI.SubTableSchemas(sub)), s"$root/$sub")
    assert(fields(AI.readSub(spark, root, sub).schema) == inferred, s"$root/$sub")
  }

  test("every persisted sub-table's inferred schema is its declared one — " +
    "text, fp and emb tiers, base root and one folded delta generation") {
    val (dir, edir, fdir) = dirs
    Seq(dir -> Seq("hsets", "bands"), edir -> Seq("cells"), fdir -> Seq("fps"))
      .foreach { case (ix, subs) =>
        val roots = GenerationStore.indexRoots(ix)
        assert(roots.size == 2, s"expected base + one folded generation: $roots")
        for (rt <- roots; sub <- subs) checkSchema(rt, sub)
      }
    checkSchema(dir, "hot")
    checkSchema(edir, "centroids")
    val staged = new java.io.File(s"$dir/staged").listFiles().toSeq
    assert(staged.nonEmpty, "the lifecycle staged no round attribution")
    staged.foreach(s => checkSchema(s.toString, "att"))
  }

  test("a committed root's hot set and centroids are read once; a rebuilt " +
    "root (marker deleted, then re-ensured) is read again") {
    val (dir, edir, _) = dirs
    AI.signedBatch(batch, dir)
    AI.embPairsVsIndexPruned(vecs, edir)
    val (h0, c0) = (AI.hotSets.reads, AI.centroidSets.reads)
    AI.signedBatch(batch, dir)
    AI.embPairsVsIndexPruned(vecs, edir)
    assert(AI.hotSets.reads == h0, "the hot set of an unchanged root was re-read")
    assert(AI.centroidSets.reads == c0, "the centroids of an unchanged root were re-read")
    Files.delete(Paths.get(dir, marker))
    Files.delete(Paths.get(edir, marker))
    assert(ensureText() == dir && ensureEmb() == edir)
    AI.signedBatch(batch, dir)
    AI.embPairsVsIndexPruned(vecs, edir)
    assert(AI.hotSets.reads == h0 + 1, "the rebuilt root's hot set was not re-read")
    assert(AI.centroidSets.reads == c0 + 1, "the rebuilt root's centroids were not re-read")
  }

  test("a second corpus generation of the same index family replaces the " +
    "family's cache entry instead of adding one") {
    val (dir, edir, _) = dirs
    AI.signedBatch(batch, dir)
    AI.embPairsVsIndexPruned(vecs, edir)
    val (h0, c0) = (AI.hotSets.entries, AI.centroidSets.entries)
    // a new corpus manifest is a new generation: same path and
    // parameters (same family), new staleness key (new dir)
    Seq("documents", "embeddings").foreach { t =>
      Files.write(Paths.get(sfDir, s"$t.parquet", "_GRAFT_MANIFEST"),
        "generation 2".getBytes("UTF-8"))
    }
    val (dir2, edir2) = (ensureText(), ensureEmb())
    assert(dir2 != dir && edir2 != edir)
    AI.signedBatch(batch, dir2)
    AI.embPairsVsIndexPruned(vecs, edir2)
    assert(AI.hotSets.entries == h0 && AI.centroidSets.entries == c0)
    assert(AI.hotSets.holds(dir2) && !AI.hotSets.holds(dir))
    assert(AI.centroidSets.holds(edir2) && !AI.centroidSets.holds(edir))
  }

  /** Remove this corpus's index dirs and pristine snapshots. */
  override def afterAll(): Unit =
    try {
      if (pathKeys.nonEmpty) {
        Seq(GenerationStore.indexRoot, s"${GenerationStore.indexRoot}/.pristine").foreach { r =>
          Option(new java.io.File(r).listFiles()).toSeq.flatten
            .filter(f => pathKeys.exists(f.getName.startsWith)).foreach(rm)
        }
        rm(new java.io.File(sfDir))
      }
    } finally super.afterAll()

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }
}
