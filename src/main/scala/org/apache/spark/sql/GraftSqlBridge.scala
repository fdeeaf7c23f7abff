package org.apache.spark.sql

import java.io.IOException
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader,
  ParquetRecordReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation,
  Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{DataSourceUtils,
  FileScanRDD, RecordReaderIterator}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetOptions, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
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

  /** A parquet file's footer, read on the driver ([[openParquet]]).
    * Throws if the file is gone, cannot be opened or its footer does not
    * parse. */
  def parquetFooter(conf: Configuration, file: Path): ParquetMetadata = {
    val reader = openParquet(conf, file)
    try reader.getFooter finally reader.close()
  }

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
  def parquetFooterSchema(spark: SparkSession, file: Path): StructType =
    footerSchema(spark, file,
      parquetFooter(spark.sessionState.newHadoopConf(), file))

  /** [[parquetFooterSchema]] of a footer already read. */
  def footerSchema(spark: SparkSession, file: Path, footer: ParquetMetadata)
      : StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable

  /** The files a streaming micro-batch scans, found without running it:
    * `foreachBatch` hands over a `LogicalRDD` over the batch's planned
    * scan (so `Dataset.inputFiles` reads empty), and the scan's
    * `FileScanRDD` in that RDD's lineage holds the file splits Spark
    * planned, empty files already left out. None when `batch` is not
    * such a frame or its lineage holds no file scan. */
  def batchFiles(batch: DataFrame): Option[Seq[Path]] = {
    def scans(rdd: org.apache.spark.rdd.RDD[_]): Seq[FileScanRDD] =
      rdd match {
        case f: FileScanRDD => Seq(f)
        case r => r.dependencies.flatMap(d => scans(d.rdd))
      }
    batch.queryExecution.analyzed match {
      case r: LogicalRDD => scans(r.rdd) match {
        case Seq() => None
        case fs => Some(fs.flatMap(_.filePartitions.flatMap(
          _.files.map(_.toPath))).distinct)
      }
      case _ => None
    }
  }

  /** Names Spark never reads as data files (`PartitioningAwareFileIndex`):
    * markers, checksums and in-flight files. */
  def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")

  /** Spark's parquet row reader, driven on the driver: no Spark job, and
    * no broadcast of the Hadoop conf, which
    * `ParquetFileFormat.buildReaderWithPartitionValues` makes on every
    * call (the block stays until the ContextCleaner drops it). A file is
    * decoded by `ParquetReadSupport`, Spark's row-based parquet read
    * path, under the conf keys a Spark scan sets from the session (time
    * zone, `nanosAsLong`, binary/INT96/NTZ mappings, case sensitivity),
    * with the file's own datetime and INT96 rebase rules taken from its
    * footer, and `schema` as the requested schema: a column the file
    * lacks reads as null, as in a scan. The rows come out as Spark's
    * scan emits them, one reused `UnsafeRow`; copy a row to keep it. */
  final class ParquetRows(spark: SparkSession, val schema: StructType) {
    private val sqlConf = spark.sessionState.conf
    private val options =
      new ParquetOptions(Map.empty[String, String], sqlConf)
    private val toUnsafe = UnsafeProjection.create(schema)
    val conf: Configuration = {
      val c = spark.sessionState.newHadoopConf()
      c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
      c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
      Seq(
        SQLConf.NESTED_SCHEMA_PRUNING_ENABLED ->
          sqlConf.nestedSchemaPruningEnabled,
        SQLConf.CASE_SENSITIVE -> sqlConf.caseSensitiveAnalysis,
        SQLConf.PARQUET_BINARY_AS_STRING -> sqlConf.isParquetBinaryAsString,
        SQLConf.PARQUET_INT96_AS_TIMESTAMP ->
          sqlConf.isParquetINT96AsTimestamp,
        SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED ->
          sqlConf.parquetInferTimestampNTZEnabled,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG ->
          sqlConf.legacyParquetNanosAsLong,
        SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
          sqlConf.parquetReaderRespectUnknownTypeAnnotation)
        .foreach { case (k, v) => c.setBoolean(k.key, v) }
      c
    }

    /** `f` over the rows of `file`, whose footer is `footer`; the file
      * is closed when `f` returns. */
    def read[A](file: Path, footer: ParquetMetadata)(
        f: Iterator[InternalRow] => A): A = {
      val meta = footer.getFileMetaData
      val kv = meta.getKeyValueMetaData
      // INT96 values are shifted to the session zone only for files
      // another writer than parquet-mr made, as a scan does
      val convertTz =
        if (sqlConf.isParquetINT96TimestampConversion &&
            !meta.getCreatedBy.startsWith("parquet-mr"))
          Some(DateTimeUtils.getZoneId(sqlConf.sessionLocalTimeZone))
        else None
      val reader = new ParquetRecordReader[InternalRow](
        new ParquetReadSupport(convertTz, false,
          DataSourceUtils.datetimeRebaseSpec(kv.get,
            options.datetimeRebaseModeInRead),
          DataSourceUtils.int96RebaseSpec(kv.get,
            options.int96RebaseModeInRead)))
      val rows = new RecordReaderIterator(reader)
      try {
        // the whole file: every row group's midpoint lies in the split
        reader.initialize(
          new FileSplit(file, 0L, Long.MaxValue, Array.empty[String]),
          new TaskAttemptContextImpl(conf, new TaskAttemptID()))
        f(rows.map(toUnsafe))
      } finally rows.close()
    }
  }

  /** The rows of a small parquet directory, decoded on the driver with no
    * Spark job: what `spark.read.parquet(dir).as[T].collect()` returns, in
    * file-name order, through [[ParquetRows]] with `T`'s schema as the
    * requested schema. Files Spark would not list are skipped, so a
    * hidden partial write is invisible here too; a directory with no
    * data file reads as empty. The rows are held in driver memory. */
  def readParquetRows[T: Encoder](spark: SparkSession, dir: Path): Seq[T] = {
    val enc = encoderFor[T]
    val parquet = new ParquetRows(spark, enc.schema.asNullable)
    val decode = enc.resolveAndBind(DataTypeUtils.toAttributes(parquet.schema))
      .createDeserializer()
    dir.getFileSystem(parquet.conf).listStatus(dir).toSeq
      .filter(s => s.isFile && !hidden(s.getPath.getName))
      .sortBy(_.getPath.getName)
      .flatMap { s =>
        val file = s.getPath
        parquet.read(file, parquetFooter(parquet.conf, file))(
          _.map(decode(_)).toVector)
      }
  }

  /** The rows of `select(column).filter(condition)` over `rows` (rows of
    * `schema`, each the caller's own) in a `LocalRelation`, built as one
    * plan and analysed once, the executePlan-on-a-built-plan way. The
    * optimizer folds the projection and the filter on the driver
    * (`ConvertToLocalRelation`) and the physical plan's collect returns
    * the folded rows, so no Spark job runs; an aggregate over the
    * relation would still run one. The rows are collected from the
    * physical plan, not through `Dataset.collect`, whose execution
    * tracking (listener events, plan strings) costs about as much as the
    * fold itself. */
  def collectLocal(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow], column: Column, condition: Column)
      : Array[InternalRow] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.sessionState.executePlan(
      Filter(session.expression(condition),
        Project(Seq(session.toRichColumn(column).named),
          LocalRelation(DataTypeUtils.toAttributes(schema), rows))))
      .executedPlan.executeCollect()
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
