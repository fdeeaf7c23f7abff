package graft.tables

/** The one JSON reader and writer for the engine's small driver-side
  * files (duration history, compaction records, the streaming offset
  * log): jackson-databind, which ships with Spark. Thread-safe once
  * built; a `readTree` of a stream closes it. */
private[graft] object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
