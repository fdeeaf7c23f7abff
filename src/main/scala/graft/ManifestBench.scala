package graft

import graft.catalog.{InventoryRow, TableManifest}

/** Measures the run-prologue manifest capture (Scheduler stage ~9.5,
  * ref IC:519-571) at a many-table fixture: N synthetic table dirs,
  * captured (a) by the pre-round-10 serial driver loop and (b) by the
  * round-10 bounded pool Scheduler now uses. On local disk a listStatus
  * is microseconds, so the local ratio UNDERSTATES the object-store win
  * (where each listing is a 10-50 ms RPC and a 100k-table serial
  * prologue is minutes of driver dead time); the number here pins the
  * mechanism and the local floor.
  *
  * Usage: runMain graft.ManifestBench [nTables] */
object ManifestBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 20000
    val spark = SessionDefaults.local()
    val base = java.nio.file.Files
      .createTempDirectory("graft-manifests").toString
    (0 until n).foreach { i =>
      val d = java.nio.file.Paths.get(s"$base/t$i")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-0.parquet"),
        Array[Byte](1, 2, 3))
      ()
    }
    val rows = (0 until n).map(i =>
      InventoryRow("db", "main", s"t$i", "BASE TABLE", 3L, s"$base/t$i"))
    def serial(): Long = {
      val t0 = System.nanoTime()
      rows.foreach(r => TableManifest.capture(spark, r))
      (System.nanoTime() - t0) / 1000000L
    }
    def pooled(): Long = {
      val t0 = System.nanoTime()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
      try rows.map(r => pool.submit(new java.util.concurrent.Callable[
          TableManifest] {
        def call() = TableManifest.capture(spark, r)
      })).foreach(_.get())
      finally pool.shutdown()
      (System.nanoTime() - t0) / 1000000L
    }
    // warm the FS/metadata caches once, then best-of-2 each
    serial()
    val s = math.min(serial(), serial())
    val p = math.min(pooled(), pooled())
    println(s"""{"tables":$n,"serial_ms":$s,"pooled_ms":$p,"speedup":${f"${s.toDouble / math.max(1L, p)}%.1f"}}""")
    spark.stop()
  }
}
