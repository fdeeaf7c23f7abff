package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters so
  * graft can attach custom Catalyst expressions (e.g.
  * `graft.functions.FloatDot`) to DataFrame columns. Spark 4 moved these
  * behind `classic.ExpressionUtils`; placing this object in the
  * `org.apache.spark.sql` package is the standard extension-library
  * access pattern (same trick Delta/Iceberg use).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function on an ALREADY-RUNNING session (extensions only
    * apply when the session is first built). */
  def registerTempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Spark's own broadcast-safe Hadoop-conf wrapper (private[spark]; also
    * covered by Spark's Kryo registration, unlike a hand-rolled
    * writeObject wrapper). `.value` yields the Configuration. */
  def serializableHadoopConf(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(conf)

  /** Blocks until every event already posted to the (asynchronous,
    * private[spark]) listener bus has been delivered, so a listener's
    * counts include every action that returned before the call. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The schema `spark.read.parquet` infers from one parquet file, read
    * on the driver from its footer, with no Spark job. Spark's own
    * (non-merging) inference reads the footer of one file and converts
    * it the same way: the Spark schema stored in the footer if there is
    * one, else the parquet schema under the session conf (`nanosAsLong`,
    * `inferTimestampNTZ`, ...), made nullable as every file source is.
    * Throws if the file is gone, cannot be opened or its footer does not
    * parse. */
  def parquetFooterSchema(spark: SparkSession, file: Path): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
    val footer = try new Footer(file, reader.getFooter) finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }
}
