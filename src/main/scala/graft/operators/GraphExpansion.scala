package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{GraphNode, GraphRelation, TableMetadata}

/** The reference's core pipeline as Spark operators (SURVEY §2.A rows
  * A1/G1/G2): flat `information_schema`-shaped rows → nested
  * TableMetadata documents → property-graph nodes/relations.
  *
  * Design vs the reference: the reference relies on a global ORDER BY
  * + adjacent grouping in a single-threaded pull loop (O1/A1). Here
  * grouping is a hash aggregation on the table key — no global sort,
  * shuffle only on the grouping key — and column order is restored
  * per-group with array_sort on (sort_order, …) structs, so the result
  * is deterministic under any partitioning. Expansion is a typed
  * flatMap (1→N, no Catalyst Generator needed).
  */
object GraphExpansion {

  /** A1: group flat column rows into one TableMetadata per table.
    *
    * Expected input columns: database, cluster, schema_name,
    * table_name, table_description, is_view, col_name, col_type,
    * col_sort_order, col_description (FIXTURES.md §2 shape).
    */
  def tableMetadata(spark: SparkSession, columnsMeta: DataFrame): Dataset[TableMetadata] = {
    import spark.implicits._
    columnsMeta
      .groupBy($"database", $"cluster", $"schema_name", $"table_name",
        $"table_description", $"is_view")
      .agg(array_sort(collect_list(struct(
        $"col_sort_order".cast("int").as("sortOrder"),
        $"col_name".cast("string").as("name"),
        $"col_description".cast("string").as("description"),
        $"col_type".cast("string").as("colType")))).as("cols"))
      .select(
        $"database".cast("string").as("database"),
        $"cluster".cast("string").as("cluster"),
        $"schema_name".cast("string").as("schema"),
        $"table_name".cast("string").as("name"),
        $"table_description".cast("string").as("description"),
        coalesce($"is_view".cast("boolean"), lit(false)).as("isView"),
        transform($"cols", c => struct(
          c.getField("name").as("name"),
          c.getField("description").as("description"),
          c.getField("colType").as("colType"),
          c.getField("sortOrder").as("sortOrder"))).as("columns"))
      .as[TableMetadata]
  }

  /** G1: nodes, deduplicated (Database/Cluster/Schema repeat per table). */
  def nodes(spark: SparkSession, tables: Dataset[TableMetadata]): Dataset[GraphNode] = {
    import spark.implicits._
    tables.flatMap(_.toNodes).distinct()
  }

  /** G2: relations, deduplicated likewise. */
  def relations(spark: SparkSession, tables: Dataset[TableMetadata]): Dataset[GraphRelation] = {
    import spark.implicits._
    tables.flatMap(_.toRelations).distinct()
  }
}
