package org.apache.spark.sql

import java.io.IOException
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters so
  * graft can attach custom Catalyst expressions (e.g.
  * `graft.functions.FloatDot`) to DataFrame columns. Spark 4 moved these
  * behind `classic.ExpressionUtils`; placing this object in the
  * `org.apache.spark.sql` package is the standard extension-library
  * access pattern (same trick Delta/Iceberg use).
  *
  * It is also the one place graft opens, reads or writes a parquet file
  * outside a Spark job (`SessionDefaultsSpec` holds it to that).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's own shape compare (private[sql]): the same types, ignoring
    * nullability and struct field names. */
  def sameShape(a: DataType, b: DataType): Boolean =
    DataType.equalsStructurally(a, b, ignoreNullability = true)

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

  /** Opens a parquet file with read options built from `conf`, the way
    * Spark's own `ParquetFooterReader` does. Parquet's default
    * `ParquetReadOptions` build a fresh Hadoop `Configuration`, which
    * re-parses `core-default.xml`/`core-site.xml` from the classpath on
    * every open: about 8 ms per open on a warm JVM, against about 0.2 ms
    * with a conf the caller already has. The caller closes the reader. */
  def openParquet(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())

  /** The schema `spark.read.parquet` infers from one parquet file, read
    * on the driver from its footer, with no Spark job. Spark's own
    * (non-merging) inference reads the footer of one file and converts
    * it the same way: the Spark schema stored in the footer if there is
    * one, else the parquet schema under the session conf (`nanosAsLong`,
    * `inferTimestampNTZ`, ...), made nullable as every file source is.
    * The file is opened with the session's Hadoop conf ([[openParquet]]),
    * so its filesystem settings apply and no default conf is re-parsed.
    * Throws if the file is gone, cannot be opened or its footer does not
    * parse. */
  def parquetFooterSchema(spark: SparkSession, file: Path): StructType = {
    val reader = openParquet(spark.sessionState.newHadoopConf(), file)
    val footer = try new Footer(file, reader.getFooter) finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }

  /** Names Spark never reads as data files (`PartitioningAwareFileIndex`):
    * markers, checksums and in-flight files. */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")

  /** The rows of a small parquet directory, decoded on the driver with no
    * Spark job: what `spark.read.parquet(dir).as[T].collect()` returns, in
    * file-name order, through Spark's own file reader (`ParquetFileFormat`) with `T`'s
    * schema as the requested schema and the session's conf, time zone
    * and rebase rules. Files Spark would not list are skipped, so a
    * hidden partial write is invisible here too; a directory with no
    * data file reads as empty. The rows are held in driver memory. */
  def readParquetRows[T: Encoder](spark: SparkSession, dir: Path): Seq[T] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = dir.getFileSystem(conf).listStatus(dir).toSeq
      .filter(s => s.isFile && !hidden(s.getPath.getName))
      .sortBy(_.getPath.getName)
    if (files.isEmpty) Seq.empty
    else {
      val enc = encoderFor[T]
      val schema = enc.schema.asNullable
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, schema, new StructType(), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
      val decode = enc.resolveAndBind(DataTypeUtils.toAttributes(schema))
        .createDeserializer()
      files.flatMap { s =>
        read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(s.getPath),
          0L, s.getLen, Array.empty, s.getModificationTime, s.getLen))
          .map(decode(_)).toVector
      }
    }
  }

  /** Writes `rows` on the driver as one new parquet file in `dir`
    * (created if missing), then (re)writes `dir/_SUCCESS`: the files a
    * one-partition Spark write leaves, with no Spark job. The writer is
    * Spark's (`ParquetFileFormat.prepareWrite`), so codec, timestamp type
    * and schema metadata follow the session as in a Spark write. The
    * file is written under a hidden name and renamed only once closed,
    * so a crash mid-write leaves nothing a reader lists. */
  def writeParquetFile[T: Encoder](spark: SparkSession, dir: Path,
      rows: Seq[T]): Unit = {
    val enc = encoderFor[T]
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory =
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, enc.schema)
    val conf = job.getConfiguration
    val context = new TaskAttemptContextImpl(conf, new TaskAttemptID())
    val name = s"part-00000-${UUID.randomUUID()}-c000" +
      factory.getFileExtension(context)
    val partial = new Path(dir, "." + name)
    val fs = dir.getFileSystem(conf)
    try {
      val writer = factory.newInstance(partial.toString, enc.schema, context)
      val toRow = enc.createSerializer()
      try rows.foreach(r => writer.write(toRow(r))) finally writer.close()
      if (!fs.rename(partial, new Path(dir, name))) throw new IOException(
        s"could not rename $partial to $name")
    } catch {
      case NonFatal(e) => fs.delete(partial, false); throw e
    }
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }
}
