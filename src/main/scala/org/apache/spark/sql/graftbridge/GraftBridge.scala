package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Column <-> Expression conversions, which Spark 4 marks
  * private[sql] (org.apache.spark.sql.classic.ExpressionUtils). Lives under
  * the spark.sql package solely to satisfy that access modifier; contains
  * no Spark-internal logic of its own. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp function on an ALREADY-RUNNING session (withExtensions
    * only applies to sessions built after it; sessionState is private[sql],
    * hence this bridge). */
  def registerTempFunction(spark: org.apache.spark.sql.SparkSession,
      name: String, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Storage location URI of a catalog table (sessionState is
    * private[sql]). */
  def tableLocation(spark: org.apache.spark.sql.SparkSession,
      name: String): java.net.URI =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      .location

  /** A Catalyst predicate as the v1 source [[org.apache.spark.sql.sources
    * .Filter]] Spark's own file scans push (DataSourceStrategy's
    * translator is protected[sql]); None for a shape it cannot
    * express. Top-level columns only. */
  def translateFilter(e: Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)

  /** DataFrame over an arbitrary logical plan (classic.Dataset.ofRows is
    * private[sql]). Used to wrap a LogicalRelation over the manifest
    * lake's custom FileIndex. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Stable unique id of a session (sessionUUID is private[sql]) —
    * a cache key that, unlike System.identityHashCode, can never
    * alias a GC'd session. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionUUID

  /** Apply V2 TableChanges to a schema through Spark's own logic
    * (CatalogV2Util is private[sql]) — used to encode an ADD COLUMN's
    * DEFAULT clause into the StructField metadata exactly as every
    * Spark surface (insert resolution, DESCRIBE, the parquet readers'
    * existence-default fill) expects it. */
  def applySchemaChanges(schema: org.apache.spark.sql.types.StructType,
      changes: Seq[org.apache.spark.sql.connector.catalog.TableChange])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .applySchemaChanges(schema, changes, Some("parquet"), "ALTER TABLE")

  /** DataFrame over an InternalRow RDD (spark.internalCreateDataFrame is
    * private[sql]). Used to truncate iterative-algorithm lineage while
    * keeping the result inside the CacheManager (unlike localCheckpoint,
    * whose blocks Dataset.unpersist cannot release): the wrapped plan is a
    * constant-size LogicalRDD, persist()/unpersist() work normally, and no
    * InternalRow<->Row conversion is paid. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** [[internalCreateDataFrame]] over an RDD whose row count is known:
    * the LogicalRDD carries that count and the size estimated from it, so
    * a join over the frame plans as over any relation of that size (a
    * bare LogicalRDD reads as unboundedly large and is never broadcast). */
  def countedDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      rowCount: Long): org.apache.spark.sql.DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val output = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(schema)
    val n = BigInt(rowCount)
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      org.apache.spark.sql.catalyst.plans.logical.statsEstimation
        .EstimationUtils.getOutputSize(output, n), Some(n))
    org.apache.spark.sql.classic.Dataset.ofRows(s,
      org.apache.spark.sql.execution.LogicalRDD(output, rdd)(s, Some(stats)))
  }
}
