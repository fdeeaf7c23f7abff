package graft.executor

import java.sql.Timestamp
import java.util.UUID

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

import graft.model.{Clock, CommandLogEntry}

/** The execution/logging kernel — the `CommandExecute` contract
  * (ref ola/CommandExecute.sql:170-255, SURVEY.md §3.3): every check runs
  * through ONE choke point that owns timing, dry-run, error capture, and
  * the audit log.
  */
final class CommandLog(spark: SparkSession, path: Option[String]) {
  private val buf = ArrayBuffer.empty[CommandLogEntry]

  def append(e: CommandLogEntry): Unit = synchronized { buf += e }
  def entries: Seq[CommandLogEntry] = synchronized { buf.toSeq }

  /** Append-flush to parquet (ref CommandLog INSERT/UPDATE collapsed into
    * start+completion rows, SURVEY §2.1 S11): the buffer is written on the
    * driver as one more file in the log directory, with no Spark job, and
    * reads back through `spark.read.parquet` like a Spark append
    * (`GraftSqlBridge.writeParquetFile`). */
  def flush(): Unit = path.foreach { p =>
    import spark.implicits._
    val rows = entries
    if (rows.nonEmpty) GraftSqlBridge.writeParquetFile(spark, new Path(p), rows)
  }
}

/** Outcome of one command (ref CE:228-240 outcome messages). */
final case class ExecResult(
    entry: CommandLogEntry,
    outcome: String, // "Succeeded" | "Failed" | "Not Executed"
    violations: Long)

final class CommandExecutor(log: CommandLog, clock: Clock, execute: Boolean,
    maxTransientRetries: Int = 2, retryBackoffMs: Long = 100L) {

  /** Run `action` (a Spark action returning a violation count) under the
    * CommandExecute contract. Dry-run (`execute=false`) logs the command
    * with outcome "Not Executed" and error columns NULL (ref CE:197,231,246).
    * A nonzero violation count is a check failure with errorNumber 8939
    * (the DBCC corruption error class); exceptions are captured, never
    * propagated (ref CE:204-222 TRY/CATCH mode).
    *
    * TRANSIENT-vs-HARD error split (the reference downgrades deadlock /
    * lock-timeout errors 1205/1222 to a configurable severity and keeps
    * going, ref ola/CommandExecute.sql:214-217; on a lake the analogous
    * blips are storage throttles, connection resets and FS timeouts): a
    * transient failure is retried in place up to `maxTransientRetries`
    * times with doubling backoff before it is logged at all, so an S3
    * 503 does not leave the table unchecked until the next nightly run.
    * A retried-then-clean command logs ONE clean entry (the retry count
    * rides extended_info); exhausted retries log the usual hard 50000
    * failure and leave state untouched (the violations<0 path), exactly
    * like a hard error. */
  def run(db: String, schema: String, obj: String, objType: String,
      command: String, commandType: String, extendedInfo: String = "{}")(
      action: => Long): ExecResult = {
    // observe(), not now(): executor stamps are wall annotations on log
    // rows, and run() executes on scheduler POOL threads in concurrent
    // mode — a ticking read here would make the driver's deterministic
    // tick stream depend on pool interleaving (Clock's determinism
    // contract). The scheduler records its own start/duration.
    val start = clock.observe()
    if (!execute) {
      val e = CommandLogEntry(UUID.randomUUID().toString, db, schema, obj,
        objType, extendedInfo, command, commandType,
        Timestamp.from(start), Some(Timestamp.from(clock.observe())), None,
        None)
      log.append(e)
      ExecResult(e, "Not Executed", 0L)
    } else {
      var retries = 0
      def attempt(): (Option[Int], Option[String], String, Long) =
        try {
          val v = action
          if (v == 0L) (Some(0), None, "Succeeded", 0L)
          else (Some(8939), Some(s"$v integrity violations"), "Failed", v)
        } catch {
          case NonFatal(ex)
              if CommandExecutor.isTransient(ex) &&
                retries < maxTransientRetries =>
            retries += 1
            if (retryBackoffMs > 0)
              Thread.sleep(retryBackoffMs * (1L << (retries - 1)))
            attempt()
          case NonFatal(ex) =>
            (Some(50000), Some(Option(ex.getMessage).getOrElse(ex.toString)),
              "Failed", -1L)
        }
      val (err, msg, outcome, viol) = attempt()
      // surface the retry count in extended_info (JSON object by
      // contract) so a flaky store is visible in the audit log even when
      // the command ultimately succeeded
      val info =
        if (retries == 0 || !extendedInfo.trim.startsWith("{")) extendedInfo
        else {
          val body = extendedInfo.trim.stripPrefix("{").stripSuffix("}").trim
          if (body.isEmpty) s"""{"transient_retries": $retries}"""
          else s"""{"transient_retries": $retries, $body}"""
        }
      val e = CommandLogEntry(UUID.randomUUID().toString, db, schema, obj,
        objType, info, command, commandType,
        Timestamp.from(start), Some(Timestamp.from(clock.observe())), err, msg)
      log.append(e)
      ExecResult(e, outcome, viol)
    }
  }
}

object CommandExecutor {
  /** Transient = worth an in-place retry: network/storage blips that a
    * second attempt routinely clears. Classified STRUCTURALLY (exception
    * type anywhere in the cause chain) first, then by conservative
    * message markers for the string-wrapped cases (hadoop-aws wraps
    * throttle responses in plain IOExceptions whose text carries the
    * 503/SlowDown marker). Everything else — corruption, schema
    * mismatch, logic errors — is hard and fails immediately. */
  private[graft] def isTransient(ex: Throwable): Boolean = {
    val markers = Seq("timed out", "timeout", "throttl", "slowdown",
      "slow down", "connection reset", "temporarily unavailable",
      "status code: 503", "503 ")
    Iterator.iterate(ex)(_.getCause).takeWhile(_ != null).take(8).exists {
      case _: java.net.SocketTimeoutException => true
      case _: java.net.SocketException => true // includes ConnectException
      case _: java.io.InterruptedIOException => true
      case _: java.net.UnknownHostException => true
      case c =>
        val m = Option(c.getMessage).getOrElse("").toLowerCase
        c.isInstanceOf[java.io.IOException] && markers.exists(m.contains)
    }
  }
}
