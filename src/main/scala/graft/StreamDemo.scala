package graft

import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Streams

/** Streaming entry point: replays the events fixture as a bounded stream
  * through the windowed-agg and stateful paths and prints sink summaries.
  * Usage: runMain graft.StreamDemo [sfDir] */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SessionDefaults.local()

    val tumbling = Streams.runToMemory(spark,
      Streams.tumblingCounts(Streams.eventsStream(spark, sfDir)),
      "demo_tumbling", OutputMode.Complete())
    println(s"[stream] tumbling windows: ${tumbling.count()} rows")
    tumbling.orderBy("window_start", "event_type").show(5, truncate = false)

    val running = Streams.runToMemory(spark,
      Streams.runningUserState(spark,
        Streams.eventsStream(spark, sfDir)).toDF(),
      "demo_running", OutputMode.Update())
    println(s"[stream] per-user state updates: ${running.count()} rows")
    running.orderBy("user_id").show(5, truncate = false)
    spark.stop()
  }
}
