package graft.pipeline

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, Encoders, GraftSqlBridge, Row,
  SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.tables.{Generations, Json}

/** The arrival pass's OOV QC (`oov_qc`): each micro-batch of arriving
  * documents is reported against the resident corpus's vocabulary
  * ([[TextAnalysis.oovReport]]'s two halves), and the vocabulary is kept
  * between passes instead of rebuilt per batch, the way the reference
  * resumes from its state table rather than recomputing it
  * (IC:454-484).
  *
  *  - [[VocabStore]] keeps [[TextAnalysis.vocabulary]] of the resident
  *    corpus as a generation, stamped with the corpus's file listing, and
  *    rebuilds it only when that stamp changes.
  *  - [[writeReport]] writes one batch's report through one of two routes
  *    with the same output: on the driver with no Spark job
  *    ([[localRoute]]) while the vocabulary plus the batch stay within
  *    [[LocalMaxRows]] footer rows, else through Spark
  *    ([[sparkRoute]], [[TextAnalysis.oovReportAgainst]]). */
object OovQc {

  /** [[localRoute]] takes a batch while the vocabulary's rows plus the
    * batch's rows, read from the parquet footers, stay within this many
    * rows.
    *
    * Crossover (`Dev routes oov`, a resident corpus of N documents, one
    * batch of 250 documents, the vocabulary's resolve included, 4-core
    * host, median of five):
    *
    * {{{
    *   resident rows  vocabulary rows  Spark (7 jobs)  local (0 jobs)
    *           1,000               31          603 ms           47 ms
    *          10,000           37,662          438 ms           60 ms
    *          30,000          188,186          546 ms           94 ms
    *          60,000          413,972          599 ms          275 ms
    *         100,000          715,020          832 ms          389 ms
    *         200,000        1,467,640        1,359 ms          994 ms
    * }}}
    *
    * The Spark route costs about 0.5 s until its vocabulary read grows;
    * the local route about 50 ms plus about 0.6 µs per vocabulary row,
    * so the two would cross past 2 million rows. The bound sits well
    * below that because the local route holds the vocabulary in a
    * driver hash set. */
  private[graft] val LocalMaxRows: Long = 300000L

  private val TokenSchema = StructType(Seq(StructField("token", StringType)))
  private val TextSchema = StructType(Seq(StructField("text", StringType)))
  private val BatchSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))

  /** The report's columns, as the Spark route writes them. */
  private val ReportSchema = StructType(Seq(
    StructField("source", StringType), StructField("n_docs", LongType),
    StructField("total_tokens", LongType),
    StructField("oov_tokens", LongType), StructField("new_vocab", LongType),
    StructField("oov_rate", DoubleType), StructField("flagged", BooleanType)))

  /** One text's tokens as [[TextAnalysis.vocabulary]] splits them: on
    * single spaces, empty tokens dropped. */
  private def tokens(text: UTF8String): Array[String] =
    text.toString.split(" ", -1).filter(_.nonEmpty)

  private def footerRows(files: Seq[(Path, ParquetMetadata)]): Long =
    files.map(_._2.getBlocks.asScala.map(_.getRowCount).sum).sum

  /** A served vocabulary generation: its data files with their footers,
    * and whether the [[VocabStore.resolve]] that returned it rebuilt it. */
  final class Vocab private[OovQc] (val files: Seq[(Path, ParquetMetadata)],
      val rebuilt: Boolean, spark: SparkSession) {
    def rows: Long = footerRows(files)

    /** The tokens, decoded on the driver at the first use. */
    lazy val tokens: java.util.HashSet[String] = {
      val set = new java.util.HashSet[String]
      val p = new GraftSqlBridge.ParquetRows(spark, TokenSchema)
      files.foreach { case (f, footer) => p.read(f, footer)(_.foreach(r =>
        if (!r.isNullAt(0)) set.add(r.getUTF8String(0).toString))) }
      set
    }

    /** The tokens as a frame, for [[sparkRoute]]. */
    def frame: DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(java.util.List.of[Row](), TokenSchema)
      else spark.read.schema(TokenSchema).parquet(files.map(_._1.toString): _*)
  }

  /** The fingerprint of a resident corpus: a digest of its path and each
    * data file's path, length and modification time
    * ([[graft.streaming.Streams.listDataStatuses]]). A file added,
    * removed or rewritten (a compaction, an in-place overwrite) changes
    * it. */
  private def stampOf(resident: String, files: Seq[FileStatus])
      : String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(resident.getBytes(UTF_8))
    files.map(f => s"\n${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
      .sorted.foreach(l => md.update(l.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The resident vocabulary ([[TextAnalysis.vocabulary]]) kept as
    * generations of `path` ([[graft.tables.Generations]], under the
    * store's own writer lease). A generation is complete once it holds
    * `_SUCCESS` and `_oov_stamp.json`, which records the [[stampOf]] of
    * the corpus it was built from. */
  final class VocabStore(spark: SparkSession, path: String) {
    private val StampFile = "_oov_stamp.json"
    private val gens = new Generations(spark, path, "OovVocab",
      Seq("_SUCCESS", StampFile))
    private def fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** The vocabulary of the resident corpus at `resident` as its files
      * are now: the served generation when it carries their stamp, else
      * a new generation built from them. The listing is taken before the
      * build reads anything, so a corpus that changes during a build
      * leaves a stamp that no longer matches and the next resolve
      * rebuilds; an old stamp is never served for a changed corpus. */
    def resolve(resident: String): Vocab = {
      val files = graft.streaming.Streams.listDataStatuses(spark, resident)
      val stamp = stampOf(resident, files)
      served(stamp, rebuilt = false).getOrElse(gens.lease.withLease {
        gens.writeGeneration { tmp =>
          TextAnalysis.vocabulary(
            spark.read.schema(TextSchema).parquet(resident)).write.parquet(tmp)
          val node = Json.mapper.createObjectNode()
            .put("format", 1).put("resident", resident)
            .put("files", files.size).put("stamp", stamp)
          val os = fs.create(new Path(tmp, StampFile), true)
          try Json.mapper.writeValue(os: java.io.OutputStream, node)
          finally os.close()
        }
        served(stamp, rebuilt = true).getOrElse(throw new IllegalStateException(
          s"OovVocab at $path: the generation just written does not serve"))
      })
    }

    /** The served generation ([[Generations.recover]] first) when its
      * stamp is `stamp`. */
    private def served(stamp: String, rebuilt: Boolean): Option[Vocab] = {
      gens.recover()
      val root = new Path(gens.serveRoot())
      val kept = try {
        val in = fs.open(new Path(root, StampFile))
        Json.mapper.readTree(in).path("stamp").asText() == stamp
      } catch {
        case _: FileNotFoundException | _: JsonProcessingException => false
      }
      if (!kept) None
      else {
        val conf = spark.sessionState.newHadoopConf()
        Some(new Vocab(fs.listStatus(root).toSeq
          .filter(s => s.isFile && !GraftSqlBridge.hidden(s.getPath.getName))
          .sortBy(_.getPath.getName)
          .map(s => s.getPath -> GraftSqlBridge.parquetFooter(conf, s.getPath)),
          rebuilt, spark))
      }
    }
  }

  /** Batch `batch`'s report written to `dir` (replacing it) by
    * [[localRoute]] over the batch's planned files
    * ([[GraftSqlBridge.batchFiles]]) when it takes the batch, else by
    * [[sparkRoute]]; the route taken, `local` or `spark`. */
  def writeReport(spark: SparkSession, vocab: Vocab, batch: DataFrame,
      dir: Path): String =
    if (GraftSqlBridge.batchFiles(batch).exists(files =>
        localRoute(spark, vocab, files, batch.schema, dir))) "local"
    else { sparkRoute(vocab, batch, dir); "spark" }

  /** One batch's report through Spark:
    * [[TextAnalysis.oovReportAgainst]] the vocabulary, written to `dir`
    * as one file (overwriting it). The route of every size. */
  private[graft] def sparkRoute(vocab: Vocab, batch: DataFrame,
      dir: Path): Unit =
    TextAnalysis.oovReportAgainst(batch.select("doc_id", "source", "text"),
      vocab.frame).coalesce(1).write.mode("overwrite").parquet(dir.toString)

  /** [[sparkRoute]] on the driver, with no Spark job, for a batch whose
    * files are `files` (`schema` is the stream's): the batch's rows are
    * decoded through Spark's parquet row reader
    * ([[GraftSqlBridge.ParquetRows]]) and checked against the
    * vocabulary's tokens in a hash set. Per source it counts the same
    * distinct non-null doc_ids, token instances, out-of-vocabulary
    * instances and distinct new tokens, rounds the rate as
    * [[graft.functions.StableRound.r4]] does and flags it over 5 %, and
    * writes the rows in binary `source` order, null first, with
    * [[sparkRoute]]'s column types.
    *
    * Returns false, having written nothing, where [[sparkRoute]] must run
    * instead: a doc_id that is not BIGINT or a source or text that is
    * not STRING, a batch file whose footer does not read (a vanished file
    * is skipped, as the stream's `ignoreMissingFiles` skips it), or more
    * than `maxRows` vocabulary plus batch rows. */
  private[graft] def localRoute(spark: SparkSession, vocab: Vocab,
      files: Seq[Path], schema: StructType, dir: Path,
      maxRows: Long = LocalMaxRows): Boolean = {
    def typed(name: String, t: DataType) =
      schema.find(_.name == name).exists(_.dataType == t)
    if (!typed("doc_id", LongType) || !typed("source", StringType) ||
        !typed("text", StringType)) return false
    val docs = new GraftSqlBridge.ParquetRows(spark, BatchSchema)
    val batch = files.flatMap { f =>
      try Some(f -> GraftSqlBridge.parquetFooter(docs.conf, f))
      catch {
        case _: FileNotFoundException => None
        case NonFatal(_) => return false
      }
    }
    if (vocab.rows + footerRows(batch) > maxRows) return false

    final class Source {
      val docIds = mutable.HashSet.empty[Long]
      var total, oov = 0L
      val fresh = mutable.HashSet.empty[String]
    }
    val known = vocab.tokens
    val sources = mutable.HashMap.empty[Option[UTF8String], Source]
    batch.foreach { case (f, footer) =>
      try docs.read(f, footer)(_.foreach { r =>
        val toks = if (r.isNullAt(2)) Array.empty[String]
          else tokens(r.getUTF8String(2))
        if (toks.nonEmpty) {
          val s = sources.getOrElseUpdate(
            if (r.isNullAt(1)) None else Some(r.getUTF8String(1).clone()),
            new Source)
          if (!r.isNullAt(0)) s.docIds += r.getLong(0)
          toks.foreach { t =>
            s.total += 1
            if (!known.contains(t)) { s.oov += 1; s.fresh += t }
          }
        }
      })
      catch { case _: FileNotFoundException => () }
    }
    val bySource = Ordering.Option(
      Ordering.fromLessThan[UTF8String](_.binaryCompare(_) < 0))
    val report = sources.toSeq.sortBy(_._1)(bySource).map { case (k, s) =>
      val rate = s.oov.toDouble / s.total.toDouble
      Row(k.map(_.toString).orNull, s.docIds.size.toLong, s.total, s.oov,
        s.fresh.size.toLong, math.floor(rate * 10000 + 0.5) / 10000,
        rate > 0.05)
    }
    dir.getFileSystem(docs.conf).delete(dir, true)
    GraftSqlBridge.writeParquetFile(spark, dir, report)(
      Encoders.row(ReportSchema))
    true
  }
}
