package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine operation: a Spark DataFrame program plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL the
  * driver hash-compares against (SURVEY.md §5).
  *
  * Determinism contract (FIXTURES.md): pinned "now" literals, total output
  * ordering on a unique key, timestamp_ntz on both sides, rounded doubles
  * where summation order could differ.
  *
  * Pins: some query programs persist frames that must outlive the
  * consuming action ([[graft.operators.GlobalOrder]]). Run a query
  * through `SparkEntry.run`; a direct caller of `SparkEntry.queries`
  * calls `GlobalOrder.release()` after materializing the result.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Fixtures {
  /** Pinned "now" for the status/temporal operators (reference derives
    * status from wall-clock `now` at src/trv/transform.py:51 — here it must
    * be a literal for oracle determinism). Mid-range of the fixture events
    * window (2024-01-01 .. 2024-01-30 at every sf).
    */
  val NowLit = "2024-01-15 00:00:00"

  /** Timestamp cutoffs used by scan/range queries; inside the events window
    * at every scale factor. */
  val RecentCutoff = "2024-01-25 00:00:00"
  val RangeStart = "2024-01-10 00:00:00"
  val RangeEnd = "2024-01-11 00:00:00"
}
