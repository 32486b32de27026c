package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column↔Expression conversion —
  * the standard extension-library pattern for exposing custom Catalyst
  * expressions as `Column`s (classic, non-Connect execution path).
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Fully-converted Catalyst tree (not the lazy `ColumnNodeExpression`
    * wrapper [[expression]] returns), so callers can pattern-match node
    * types — e.g. collect the leaf attribute names a column references.
    */
  def catalystTree(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Stable session identifier (`sessionUUID` is `private[sql]`). */
  def sessionUUID(s: SparkSession): String = s match {
    case c: classic.SparkSession => c.sessionUUID
    case other => "id#" + System.identityHashCode(other)
  }

  /** Nullability-insensitive type equality (`equalsIgnoreNullability` is
    * `private[spark]`): the same logical schema round-trips with
    * different nullability depending on provenance (Seq-derived frames
    * are non-nullable, parquet reads nullable), so a literal comparison
    * of schema JSON false-positives.
    */
  def sameTypeIgnoreNullability(a: org.apache.spark.sql.types.DataType,
                                b: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.types.DataType.equalsIgnoreNullability(a, b)

  /** The schema a parquet relation reports for `s` (`asNullable` is
    * `private[spark]`): file reads surface every column nullable.
    */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** Apply DSv2 TableChanges to a schema through Spark's own machinery
    * (`CatalogV2Util.applySchemaChanges` is `private[sql]`) — the one
    * correct encoder of column DEFAULT metadata (CURRENT_DEFAULT +
    * EXISTS_DEFAULT) for AddColumn / UpdateColumnDefaultValue.
    */
  def applySchemaChanges(schema: org.apache.spark.sql.types.StructType,
                         changes: Seq[org.apache.spark.sql.connector
                           .catalog.TableChange])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      // provider "parquet": graft epochs ARE parquet files read by the
      // stock parquet readers — exactly the provider whose
      // default-value support the validator checks
      .applySchemaChanges(schema, changes, Some("parquet"), "ALTER TABLE")
}
