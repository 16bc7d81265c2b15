package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixture tables (TESTDATA.md).
  *
  * All queries take an `sfDir` (e.g. `/root/testdata/sf0.01`) so the same
  * code runs at every scale factor. At cluster scale these paths would be
  * object-store prefixes; Catalyst pushes filters/projections into the
  * scan either way.
  *
  * A table's parquet schema is inferred (one Spark job) on its first
  * read only. The inferred schema is kept per table path, keyed on a
  * stamp of the path's data files (path, length and modification time
  * of every file a Hadoop recursive listing returns, so object-store
  * prefixes work too) and on the session settings that change how
  * parquet types convert to Spark types ([[SchemaConfs]]). A later read
  * with the same key passes that schema to the reader, so no inference
  * job runs; a changed file or setting misses and replaces the path's
  * one entry, so a long-lived process holds one schema per table. The
  * given schema is exactly what inference would return: inference is a
  * function of those files and settings alone, and `HadoopFsRelation`
  * makes a given schema nullable as it does an inferred one. Every call
  * builds a fresh relation (a shared DataFrame would make self-joins
  * ambiguous). */
object Tables {
  /** The session settings parquet schema inference reads: the type
    * converter's switches and what picks the files it reads. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema")

  private final case class SchemaKey(files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  /** One (key, schema) entry per table path. Read and replaced without
    * a lock held across the inference job: two racing first reads both
    * infer, and either result is right. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, (SchemaKey, StructType)]()

  /** Every file under `path` with its length and modification time,
    * sorted; `None` when the path cannot be listed, so the plain read
    * reports the error itself. */
  private def filesStamp(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sorted)
    } catch { case _: java.io.IOException => None }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    filesStamp(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = SchemaKey(files, SchemaConfs.map(k => spark.conf.getOption(k)))
        val hit = schemas.get(path)
        if (hit != null && hit._1 == key) spark.read.schema(hit._2).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(path, (key, df.schema))
          df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events fixture's `ts` encoding has varied across driver
    * generations — parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects with [PARQUET_TYPE_ILLEGAL] unless read as long via
    * the legacy conf) and plain TIMESTAMP(MICROS) (which Spark reads as
    * TIMESTAMP_NTZ). Normalize both to a session-zone TIMESTAMP so every
    * downstream query sees one type.
    *
    * SIDE EFFECT, by necessity session-wide: the legacy conf cannot be
    * scoped to this one read — Spark re-reads it when the scan is
    * physically planned, which happens after this method returns — so
    * it stays set for the session, and any LATER parquet read of a
    * nanos-timestamp column in the same session will also get a BIGINT
    * instead of the loud [PARQUET_TYPE_ILLEGAL]. Callers embedding graft
    * in a larger application should be aware (or use a separate session
    * for their own reads). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(s, d, "events"))
  }

  /** Nanos-as-long → timestamp_micros(ts DIV 1000) (DIV, not `/`:
    * epoch-nanos ~1.7e18 exceed double's 2^53 exact range, so float
    * division came out ±1µs off — invisible to windowed aggs, fatal to
    * raw-micros compares); TIMESTAMP_NTZ → session-zone TIMESTAMP (the
    * session is pinned UTC, so the cast is identity on the instant). */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
