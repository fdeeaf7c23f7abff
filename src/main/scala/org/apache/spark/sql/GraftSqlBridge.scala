package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

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
}
