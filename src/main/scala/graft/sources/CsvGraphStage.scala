package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.{GraphNode, GraphRelation}

/** CSV staging of the graph (SURVEY §2.A rows S4/S5): the durable
  * task→publisher handoff medium the reference uses
  * (FsNeo4jCSVLoader dirs wired at /root/reference/job/
  * sample_mysql_aws_sqs_job.py:43-45,54-57; header contract echoed at
  * publisher/aws_sqs_csv_puiblisher.py:44-51).
  *
  * Headers follow the reference contract (KEY, LABEL / START_KEY,
  * START_LABEL, END_KEY, END_LABEL, TYPE, REVERSE_TYPE). Files are
  * sharded by label/type directory — the Spark analogue of the
  * reference's one-CSV-per-label-shard layout — via partitionBy, which
  * also gives partition pruning on read-back.
  *
  * Empty-vs-null (SURVEY §7 hard-part 6): the reference reads staged
  * CSVs with pandas na_filter=False, so empty cells stay "".
  * `emptyValue`/`nullValue` below pin Spark to the same round-trip:
  * empty strings survive as empty strings.
  *
  * Read-back knows the header it wrote: the data columns are given as an
  * all-string schema, so no job infers them, and the partition column is
  * still discovered from the directory names (same `columns`, same
  * order). `enforceSchema=false` makes Spark check every file's header
  * against those columns: a staged dir written with another header
  * fails the read with Spark's header-mismatch error instead of being
  * published under the wrong keys.
  */
object CsvGraphStage {

  private def writer(df: DataFrame, dir: String, shardCol: String): Unit =
    df.write.mode("overwrite")
      .partitionBy(shardCol)
      .option("header", "true")
      .option("emptyValue", "")
      .csv(dir)

  def writeNodes(nodes: Dataset[GraphNode], dir: String): Unit =
    writer(nodes.toDF().select(
      col("key").as("KEY"), col("name").as("name"), col("label").as("LABEL")),
      dir, "LABEL")

  def writeRelations(relations: Dataset[GraphRelation], dir: String): Unit =
    writer(relations.toDF().select(
      col("startKey").as("START_KEY"), col("startLabel").as("START_LABEL"),
      col("endKey").as("END_KEY"), col("endLabel").as("END_LABEL"),
      col("reverseType").as("REVERSE_TYPE"), col("relType").as("TYPE")),
      dir, "TYPE")

  /** A staged dir's reader: its data columns as written, all strings;
    * the partition column follows from the directory names. */
  private def reader(spark: SparkSession, dir: String, columns: String*): DataFrame =
    spark.read
      .schema(StructType(columns.map(StructField(_, StringType))))
      .option("header", "true")
      .option("enforceSchema", "false")
      .option("emptyValue", "")
      .csv(dir)

  /** A staged node dir as written: KEY, name, LABEL, the JSON key order
    * the publisher keeps. */
  def readStagedNodes(spark: SparkSession, dir: String): DataFrame =
    reader(spark, dir, "KEY", "name")

  /** A staged relation dir as written: START_KEY, START_LABEL, END_KEY,
    * END_LABEL, REVERSE_TYPE, TYPE. */
  def readStagedRelations(spark: SparkSession, dir: String): DataFrame =
    reader(spark, dir, "START_KEY", "START_LABEL", "END_KEY", "END_LABEL", "REVERSE_TYPE")

  def readNodes(spark: SparkSession, dir: String): Dataset[GraphNode] = {
    import spark.implicits._
    readStagedNodes(spark, dir)
      .select($"KEY".as("key"), $"LABEL".as("label"), $"name".as("name"))
      .as[GraphNode]
  }

  def readRelations(spark: SparkSession, dir: String): Dataset[GraphRelation] = {
    import spark.implicits._
    readStagedRelations(spark, dir)
      .select($"START_KEY".as("startKey"), $"START_LABEL".as("startLabel"),
        $"END_KEY".as("endKey"), $"END_LABEL".as("endLabel"),
        $"TYPE".as("relType"), $"REVERSE_TYPE".as("reverseType"))
      .as[GraphRelation]
  }
}
