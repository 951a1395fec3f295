package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Package-private Spark APIs needed to wrap custom Catalyst
  * expressions as user-facing Columns in Spark 4 (where Column holds
  * a ColumnNode rather than an Expression). The usual extension-point
  * idiom: a shim object placed in the org.apache.spark.sql package.
  */
object GraftSqlShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's function registry (private[sql] via sessionState) —
    * lets GraftExtensions.install register functions into an
    * already-built session (shells, shared test sessions).
    */
  def functionRegistry(spark: SparkSession): org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** A frame over Catalyst rows with the LogicalRDD leaf that Spark's
    * own readers build (internalCreateDataFrame is private[sql]).
    */
  def rddFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Spark's multiLine CSV record parse of a whole stream, header
    * checked first (the UnivocityParser companion is private[sql]).
    */
  def parseCsvStream(in: java.io.InputStream, parser: UnivocityParser,
                     header: CSVHeaderChecker, schema: StructType): Iterator[InternalRow] =
    UnivocityParser.parseStream(in, parser, header, schema)
}
