package graft

import org.apache.spark.sql.SparkSession

/** The one session builder behind every graft main and the spec harness. */
object GraftSession {
  /** A local session on `cpus` cores with one shuffle partition per core,
    * UTC session time, no UI, AQE on and WARN logging.
    *
    * `nanosAsLong` must be set here: it only takes effect at build time,
    * and older `events.parquet` generations carried TIMESTAMP(NANOS),
    * which without it fail the scan (`Tables.loadEvents` branches on the
    * read type). Graft's Catalyst extensions are not installed here;
    * `SparkEntry.queries` installs them per call via `GraftRuntime.ensure`. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
