package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(expr)` / `col.expr` bridge (Connect
  * refactor); the classic converters are `private[sql]`. This shim lives in
  * the spark.sql namespace solely to expose that bridge to graft's custom
  * Catalyst expressions. */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** `c` as an expression, its SQL text parsed by `spark`'s own parser
    * (the one-argument form parses with the active session's). */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** DataFrame from a logical plan (`Dataset.ofRows` is private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of INTERNAL rows (`internalCreateDataFrame` is
    * private[sql]): lets the sanctioned RDD drop-downs (the prefix-sum
    * sites in [[graft.ops.Positions]]) stay on InternalRow instead of
    * paying the external-Row converter in BOTH directions per row. */
  def ofInternalRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A session of its own on `caller`'s SparkContext and shared state
    * (warehouse, external catalog, cache), whose session state is a clone
    * of `caller`'s as it is now — conf, current database, temp views,
    * functions, listeners, experimental strategies — built with
    * `extensions` (parser, analyzer rules). A later change on either
    * side stays on that side. Spark's 6-argument constructor (the one
    * `cloneSession` uses) is private in Scala and public in bytecode. */
  def gatewaySession(caller: SparkSession,
      extensions: org.apache.spark.sql.SparkSessionExtensions): SparkSession = {
    import org.apache.spark.sql.classic.{SparkSession => Classic}
    val c = caller.asInstanceOf[Classic]
    val s = classOf[Classic].getConstructor(classOf[org.apache.spark.SparkContext],
        classOf[Option[_]], classOf[Option[_]],
        classOf[org.apache.spark.sql.SparkSessionExtensions],
        classOf[Map[_, _]], classOf[Map[_, _]])
      .newInstance(c.sparkContext, Some(c.sharedState), Some(c.sessionState), extensions,
        Map.empty[String, String], Map.empty[String, String])
    s.sessionState // clone now: the state is lazy, and the caller moves on
    s
  }

  /** The session's Hadoop conf (the SparkContext's plus the session's SQL
    * settings) — what a write job's tasks see. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** `e` with its floats normalized (-0.0 to 0.0, every NaN to one), as
    * Spark's planner normalizes an aggregate's grouping keys. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Whether `t` is, or nests, a DOUBLE or FLOAT. */
  def hasFloats(t: org.apache.spark.sql.types.DataType): Boolean =
    t.existsRecursively(f => f == org.apache.spark.sql.types.DoubleType ||
      f == org.apache.spark.sql.types.FloatType)

  /** `spark.sql.files.maxPartitionBytes`, parsed: the bytes one scan
    * split holds. */
  def maxPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesMaxPartitionBytes

  /** The names the public catalog's `listTables()` lists: the current
    * database's tables and views plus the session's temp views,
    * name-ordered, from the session catalog (`listTables` answers the
    * same through a Spark job). */
  def tableNames(spark: SparkSession): Seq[String] = {
    val cat = sessionCatalog(spark)
    cat.listTables(cat.getCurrentDatabase, "*", includeLocalTempViews = true)
      .map(_.table).sorted
  }

  /** The current database's tables (MANAGED or EXTERNAL; no views),
    * name-ordered, from the session catalog. */
  def userTables(spark: SparkSession): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType.{EXTERNAL, MANAGED}
    val cat = sessionCatalog(spark)
    val ids = cat.listTables(cat.getCurrentDatabase, "*", includeLocalTempViews = false)
    cat.getTablesByName(ids)
      .filter(t => t.tableType == MANAGED || t.tableType == EXTERNAL)
      .map(_.identifier.table).sorted
  }

  private def sessionCatalog(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog

  /** Register a NATIVE Catalyst expression builder under a SQL-callable
    * name (`FunctionRegistry` is behind private[sql] session state). Not a
    * UDF: the built expression keeps codegen and Catalyst optimization. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
