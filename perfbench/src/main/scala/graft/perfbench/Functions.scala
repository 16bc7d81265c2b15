package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Adler32Helper, ArrayOps, DotOps, H32Helper}

/** Direct timings of the `graft.functions` kernels on values drawn from
  * the run's own documents and embeddings: nanoseconds per call, the
  * median of `Reps` sweeps over the same sample, after `4 * Reps` untimed
  * sweeps so the JIT has compiled the kernel (a workload that never calls
  * it would otherwise time the interpreter). */
private[perfbench] object Functions {
  private val Reps = 5

  private def perCall(calls: Int)(sweep: => Long): Double = {
    var sink = 0L
    (0 until 4 * Reps).foreach(_ => sink += sweep)
    val times = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      sink += sweep
      (System.nanoTime() - t0).toDouble / calls
    }.sorted
    if (sink == 42L) System.err.print("") // keeps the sums live
    times(times.size / 2)
  }

  def measure(spark: SparkSession, data: String): Map[String, Double] = {
    import spark.implicits._
    val texts = spark.read.parquet(s"$data/documents.parquet")
      .orderBy("doc_id").select("text").as[String].collect()
    val docs = texts.map(UTF8String.fromString)
    val words = texts.iterator.flatMap(_.split(" ")).take(50000).map(UTF8String.fromString).toArray
    // per-document sorted distinct word hashes: the near-dup verify's input
    val sets = texts.map(t => UnsafeArrayData.fromPrimitiveArray(
      t.split(" ").map(w => H32Helper.h32(w)).distinct.sorted))
    // embeddings quantized to round(x * 1e4), as the similarity tier does
    val vecs = spark.read.parquet(s"$data/embeddings.parquet")
      .orderBy("vec_id").select("embedding").as[Seq[Float]].collect()
      .map(v => UnsafeArrayData.fromPrimitiveArray(v.map(x => math.round(x * 1e4)).toArray))
    Map(
      "functions.h32_ns" -> perCall(words.length) {
        var acc = 0L; var i = 0
        while (i < words.length) { acc += H32Helper.h32(words(i)); i += 1 }
        acc
      },
      "functions.adler32_ns" -> perCall(docs.length) {
        var acc = 0L; var i = 0
        while (i < docs.length) { acc += Adler32Helper.adler32(docs(i)); i += 1 }
        acc
      },
      "functions.sorted_intersect_ns" -> perCall(sets.length - 1) {
        var acc = 0L; var i = 1
        while (i < sets.length) { acc += ArrayOps.sortedIntersectSize(sets(i - 1), sets(i)); i += 1 }
        acc
      },
      "functions.dot_long_ns" -> perCall(vecs.length - 1) {
        var acc = 0L; var i = 1
        while (i < vecs.length) { acc += DotOps.dotLong(vecs(i - 1), vecs(i)); i += 1 }
        acc
      })
  }
}
