package graft.core

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the test-data star schema (TESTDATA.md / FIXTURES.md §1).
  *
  * All loads are plain parquet scans: Catalyst handles column pruning and
  * predicate pushdown into the scan, so callers just compose DataFrame
  * ops on top. A table that is a single local file has its schema
  * resolved once per file version (see [[load]]), so repeat loads run no
  * inference job. At 100 TB these would be partitioned-directory
  * datasets; the API is path-based, and a directory keeps Spark's own
  * inference on every load.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load `dir/name.parquet`. The first load of a single-file table runs
    * Spark's schema inference (a one-task job reading the footer); later
    * loads pass the cached schema to the reader and fire no job. The
    * cache is JVM-wide, one entry per canonical path, and the entry is
    * reused only while the file's size, mtime and file key (inode) and
    * the session's schema-affecting parquet confs are unchanged; any
    * difference re-infers and replaces it. A file rewritten in place
    * with the same size, mtime and inode keeps its old schema.
    * `SchemaSentinelSpec` reads the files raw and stays the drift alarm.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
  }

  /** What a cached schema was inferred from: the file's version and the
    * confs `ParquetToSparkSchemaConverter` reads (checked with `javap`
    * against Spark 4.1.2: binaryAsString, int96AsTimestamp,
    * caseSensitive, inferTimestampNTZ, nanosAsLong, fieldId.read,
    * ignoreVariantAnnotation, respectUnknownTypeAnnotation,
    * variant.allowReadingShredded), taken as every set conf in their
    * namespaces. */
  private final case class Source(size: Long, mtime: FileTime, fileKey: AnyRef,
                                  conf: Map[String, String])
  private final case class Resolved(source: Source, schema: StructType)
  private val schemas = new java.util.concurrent.ConcurrentHashMap[Path, Resolved]()

  private def schemaConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive" || k == "spark.sql.variant.allowReadingShredded"
    }

  /** The canonical path and current [[Source]] of a regular local file;
    * None for a directory, a missing file or a non-local URI. */
  private def source(spark: SparkSession, path: String): Option[(Path, Source)] =
    try {
      val real = Paths.get(path).toRealPath()
      val a = Files.readAttributes(real, classOf[BasicFileAttributes])
      if (!a.isRegularFile) None
      else Some(real -> Source(a.size, a.lastModifiedTime, a.fileKey, schemaConf(spark)))
    } catch {
      case _: java.io.IOException | _: java.nio.file.InvalidPathException => None
    }

  private def parquet(spark: SparkSession, path: String): DataFrame =
    source(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, src)) =>
        val hit = schemas.get(key)
        if (hit != null && hit.source == src) spark.read.schema(hit.schema).parquet(path)
        else {
          // stat before inferring: a file replaced in between leaves the
          // older stat here, so the next load re-infers
          val df = spark.read.parquet(path)
          schemas.put(key, Resolved(src, df.schema))
          df
        }
    }

  /** Scale-adaptive fan-out for a CPU-heavy narrow stage: repartition to
    * the session's parallelism only when the frame's planned layout is
    * narrower. A small or single-row-group parquet file plans as one
    * scan task, so every per-row expression downstream (regex chains,
    * merge loops, pair scoring) would serialize through one core; an
    * already many-split source passes through untouched — no exchange
    * is added where the scan is wide (guide §2.5, input-skew remedies).
    * Inspecting the planned partition count is planning-time only (no
    * job runs).
    */
  def spread(df: DataFrame): DataFrame = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < dp) df.repartition(dp) else df
  }

  /** events.ts arrives in whatever physical form the data generator
    * chose — TIMESTAMP(NANOS) (surfaced as a nanosecond long under
    * spark.sql.legacy.parquet.nanosAsLong, set in [[Sessions]]) or a
    * no-timezone timestamp[us] (surfaced as TIMESTAMP_NTZ). Normalize
    * both to a microsecond TimestampType column so downstream epoch
    * arithmetic (unix_micros/unix_seconds, watermark builders) sees one
    * type. The NTZ→TZ cast is value-exact here: the session timezone is
    * pinned to UTC ([[Sessions.configure]]), so the wall-clock reading
    * IS the UTC instant.
    */
  private def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: epoch-ns exceeds double's 2^53 exact
        // range, so float division would be off by ±1 µs.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already TimestampType
    }

  /** Register every table as a temp view named after itself. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
