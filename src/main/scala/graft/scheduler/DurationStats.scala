package graft.scheduler

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.tables.Json

/** Persisted per-unit duration history: the running average each unit's
  * admission reads (ref IntegrityChecks_VLDB.sql:677-680). The gate is
  * [[Policy.admits]] and the average is [[Policy.fold]]; this class only
  * keeps the history. One tiny driver-side JSON file next to the caller's
  * checkpoints, `{"format":1,"stages":{"<unit>":{"n":N,"avg_ms":M}}}`;
  * the unit key is whatever granularity the caller admits at
  * (ArrivalPass: stage names; IncrementalScheduler: `db.schema.table`).
  *
  * [[record]] folds into MEMORY only; [[flush]] persists the whole
  * map ONCE — callers record per unit and flush once per PASS. The
  * file is a plain overwrite: a crash mid-pass loses at most the
  * in-pass updates (nothing was flushed yet), and admission degrades
  * to the time-remaining gate — never to wrong work. In-memory state
  * is COMPLETE either way: this pass's own admission decisions see
  * every record() regardless of flush timing. An unreadable file reads
  * as no history. */
private[scheduler] final class DurationStats(spark: SparkSession,
    path: String) {
  private val p = new org.apache.hadoop.fs.Path(path)
  private def fs = p.getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private var m: Map[String, (Long, Long)] =
    try {
      if (!fs.exists(p)) Map.empty
      else Json.mapper.readTree(fs.open(p)).path("stages").properties()
        .asScala.map(e => (e.getKey, e.getValue.path("n"),
          e.getValue.path("avg_ms")))
        .collect { case (u, n, avg)
            if n.isIntegralNumber && avg.isIntegralNumber =>
          u -> (n.asLong, avg.asLong)
        }.toMap
    } catch { case NonFatal(_) => Map.empty }

  /** Predicted duration for a unit = its running average; None until
    * the unit has run at least once (a never-seen unit is always
    * admitted — the reference's first run of a new database has no
    * estimate either). */
  def predictMs(unit: String): Option[Long] = m.get(unit).map(_._2)

  /** Fold one completed run into the IN-MEMORY history. Not persisted
    * until [[flush]]. */
  def record(unit: String, durMs: Long): Unit = {
    val (n0, avg0) = m.getOrElse(unit, (0L, 0L))
    m += unit -> (n0 + 1, Policy.fold(avg0, n0 + 1, durMs))
    dirty = true
  }

  private var dirty = false

  /** Persist the whole history in ONE write — call once per pass.
    * No-op when nothing was recorded since the last flush (a quiet
    * pass must not even rewrite an unchanged file). Best-effort: a
    * failed flush degrades admission to the time gate, never to wrong
    * work. */
  def flush(): Unit = if (dirty) {
    try {
      val root = Json.mapper.createObjectNode().put("format", 1)
      val stages = root.putObject("stages")
      m.toSeq.sortBy(_._1).foreach { case (u, (cnt, avg)) =>
        stages.putObject(u).put("n", cnt).put("avg_ms", avg)
      }
      val out = fs.create(p, true)
      try { out.write(Json.mapper.writeValueAsBytes(root)); out.write('\n') }
      finally out.close()
      dirty = false
      DurationStats.flushes.incrementAndGet()
      ()
    } catch { case NonFatal(_) => () }
  }
}

private[graft] object DurationStats {
  /** Test-visible count of actual file writes — DurationStatsSpec
    * asserts one per pass (round-14 verdict #2). */
  private[graft] val flushes = new java.util.concurrent.atomic.AtomicLong(0L)
}
