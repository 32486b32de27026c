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

  /** Materialize `df` ONCE as a local checkpoint and fold each
    * partition's rows through `summarize` in the SAME job: the
    * `localCheckpoint(eager = true)` action (one SQL execution, rows kept
    * MEMORY_AND_DISK, lineage truncated so a lost block fails loudly
    * instead of silently re-running the input) with its materializing
    * pass doing useful work. Returns a frame whose logical plan is one
    * leaf over the materialized rows (`Dataset.ofRows` and
    * `LogicalRDD.fromDataset` are `private[sql]`), the per-partition
    * summaries, and the release of the rows. A failed job releases them
    * before rethrowing. The release goes straight to
    * `SparkContext.unpersistRDD` (`private[spark]`): `RDD.unpersist`
    * WARNs on every locally checkpointed RDD, and a staged input is
    * released by design once its consumer is done.
    */
  def stageOnce[U: scala.reflect.ClassTag](df: DataFrame)(
      summarize: Iterator[catalyst.InternalRow] => U)
      : (DataFrame, Array[U], () => Unit) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rows = qe.executedPlan.execute().map(_.copy())
      rows.localCheckpoint()
      val release = () => rows.sparkContext.unpersistRDD(rows.id,
        blocking = false)
      val parts =
        try rows.sparkContext.runJob(rows, summarize)
        catch { case e: Throwable => release(); throw e }
      (classic.Dataset.ofRows(ds.sparkSession,
        execution.LogicalRDD.fromDataset(rows, ds, isStreaming = false)),
        parts, release)
    }
  }

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
