package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{BinaryType, StringType}

/** [[Tables.load]] infers a table's parquet schema on its first read
  * only, and the schema it hands the reader afterwards is the one
  * inference would return: for every fixture table, for a table
  * rewritten with another schema, and under a setting that changes the
  * parquet-to-Spark type mapping. */
class TablesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val fixtures = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.graft.ListenerDrain.drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def withTempDir(f: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-spec")
    try f(dir) finally graft.operators.GenerationStore.deleteRec(dir)
  }

  test("a repeat load of an unchanged table starts no Spark job") {
    assume(new java.io.File(sfDir).isDirectory, s"fixture dir $sfDir missing")
    val first = Tables.lineitem(spark, sfDir)
    val (again, jobs) = jobsDuring(Tables.lineitem(spark, sfDir))
    assert(jobs == 0, s"a repeat load started $jobs jobs")
    assert(again.schema == first.schema)
    assert(again.count() == first.count())
  }

  test("a table rewritten with another schema between two loads is read with the new one") {
    withTempDir { dir =>
      import spark.implicits._
      val path = s"$dir/t.parquet"
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag").write.parquet(path)
      assert(Tables.load(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("id", "tag"))
      Seq((3, 0.5, true)).toDF("n", "score", "flag").write.mode("overwrite").parquet(path)
      val reread = Tables.load(spark, dir.toString, "t")
      assert(reread.schema == spark.read.parquet(path).schema)
      assert(reread.collect().map(_.toSeq).toSeq == Seq(Seq(3, 0.5, true)))
    }
  }

  test("every sf0.001 fixture table's schema equals a fresh inference") {
    assume(new java.io.File(sfDir).isDirectory, s"fixture dir $sfDir missing")
    fixtures.foreach { t =>
      def viaTables = if (t == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, t)
      viaTables // the first load fills the cache, the second reads it
      val fresh = spark.read.parquet(s"$sfDir/$t.parquet")
      val expected = if (t == "events") Tables.normalizeTs(fresh).schema else fresh.schema
      assert(viaTables.schema == expected, s"$t")
    }
  }

  test("spark.sql.parquet.binaryAsString changes the returned type, as inference does") {
    withTempDir { dir =>
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.io.api.Binary
      import org.apache.parquet.schema.MessageTypeParser
      // written without Spark's row metadata, so the un-annotated binary
      // column's type comes from the setting alone
      val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/bin.parquet/part-0.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("b", Binary.fromString("x")))
      finally w.close()
      val key = "spark.sql.parquet.binaryAsString"
      val prior = spark.conf.getOption(key)
      def typeOfB = Tables.load(spark, dir.toString, "bin").schema("b").dataType
      try {
        spark.conf.set(key, "false")
        assert(typeOfB == BinaryType)
        assert(typeOfB == BinaryType)
        spark.conf.set(key, "true")
        assert(typeOfB == StringType)
        assert(typeOfB == StringType)
        spark.conf.set(key, "false")
        assert(typeOfB == BinaryType)
      } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
