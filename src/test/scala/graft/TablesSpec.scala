package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftTestSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** The per-file schema cache behind `Tables.load`: a repeat load runs no
  * inference job and yields the schema inference gives, and a changed
  * file or a changed schema-affecting conf is re-inferred. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val scales = Seq("sf0.001", "sf0.01")
    .filter(sf => new java.io.File(s"${TestSpark.dataRoot}/$sf").isDirectory)

  /** Run `body` and count the Spark jobs it starts. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    GraftTestSparkAccess.waitListenerBus(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      GraftTestSparkAccess.waitListenerBus(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Write `df` as ONE parquet file at `dir/name.parquet`, replacing any
    * file already there. */
  private def writeSingleFile(df: DataFrame, dir: Path, name: String): Unit = {
    val out = Files.createTempDirectory(dir, "w")
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("d").toString)
    val part = Files.list(out.resolve("d")).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a testdata root exists for the schema cache") {
    assert(scales.nonEmpty, "neither sf0.001 nor sf0.01 test data found")
  }

  scales.foreach { sf =>
    val root = s"${TestSpark.dataRoot}/$sf"
    test(s"a second load of every table at $sf runs no job and keeps the schema") {
      Tables.names.foreach { t =>
        val first = Tables.load(spark, root, t).schema
        val (second, jobs) = jobsDuring(Tables.load(spark, root, t).schema)
        assert(jobs == 0, s"$t: the second load fired $jobs Spark job(s)")
        // StructField equality covers name, type, nullability and metadata
        assert(second == first, s"$t: the second load changed the schema")
        if (t != "events")
          assert(second == spark.read.parquet(s"$root/$t.parquet").schema,
            s"$t: the cached schema differs from spark.read.parquet's")
      }
    }
  }

  test("a file replaced by one with another schema is re-inferred") {
    val dir = Files.createTempDirectory("graft_tables")
    import spark.implicits._
    writeSingleFile(Seq((1L, "a")).toDF("id", "name"), dir, "t")
    assert(Tables.load(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("id", "name"))
    assert(Tables.load(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("id", "name"))
    writeSingleFile(Seq((2.5, 7, true)).toDF("score", "rank", "flag"), dir, "t")
    val df = Tables.load(spark, dir.toString, "t")
    assert(df.schema.fieldNames.toSeq == Seq("score", "rank", "flag"))
    assert(df.collect().toSeq.map(_.toSeq) == Seq(Seq(2.5, 7, true)))
  }

  test("a schema-affecting parquet conf is part of the cache key") {
    // written with parquet-mr, not Spark: Spark's writer stores its own
    // schema in the footer, and inference prefers that to the conversion
    // the parquet confs steer
    val dir = Files.createTempDirectory("graft_tables")
    val schema = MessageTypeParser.parseMessageType(
      "message b { required int64 id; required binary payload; }")
    val writer = ExampleParquetWriter.builder(new HPath(dir.resolve("b.parquet").toUri))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("payload", Binary.fromString("hi")))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    def payloadType = Tables.load(spark, dir.toString, "b").schema("payload").dataType
    try {
      spark.conf.set(key, "false")
      assert(payloadType == BinaryType)
      assert(payloadType == BinaryType)
      spark.conf.set(key, "true")
      assert(payloadType == StringType)
      spark.conf.set(key, "false")
      assert(payloadType == BinaryType)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
