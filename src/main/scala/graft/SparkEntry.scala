package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * The engine's declared surface: every operator from SURVEY §2 (plus the
  * north-star text/dedup/similarity/multimodal set) registered as a named
  * `(SparkSession, sfDir) => DataFrame` with, where ANSI-SQL-expressible,
  * a DuckDB oracle the driver hash-compares against.
  */
object SparkEntry {

  private val registry: Seq[QueryDef] =
    operators.CoreQueries.defs ++
      operators.Relational.defs ++
      operators.TpchSuite.defs ++
      operators.Sketches.defs ++
      operators.Layout.defs ++
      operators.Frontier.defs ++
      operators.GeoArray.defs ++
      plans.GroupTopK.defs ++
      operators.AsofJoin.defs ++
      operators.TimeWindows.defs ++
      operators.DedupOps.defs ++
      operators.Release.defs ++
      operators.GlobalOrder.defs ++
      operators.Curation.defs ++
      operators.Behavioral.defs ++
      operators.Journeys.defs ++
      operators.TimeSeries.defs ++
      operators.Experimentation.defs ++
      operators.Evaluation.defs ++
      operators.SupplyChain.defs ++
      operators.Survival.defs ++
      operators.StatTests.defs ++
      operators.RankEval.defs ++
      operators.ModelFit.defs ++
      operators.Multimodal.defs ++
      functions.TextAnalysis.defs ++
      functions.Similarity.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Daily trend (SURVEY §7 step 1): scan → hash agg → sort. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_daily_trend")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Each entry first installs graft's Catalyst extensions on the caller's
    * session (idempotent) so the declared path — including driver-built
    * Verify/Bench sessions — plans through the heap top-k operator when
    * the row_number()<=k rewrite applies, not only sessions built with
    * `withExtensions`. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      q.name -> { (s: SparkSession, d: String) =>
        GraftRuntime.ensure(s); q.fn(s, d)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Builds query `name` over `dir`, hands the frame to `sink`, and returns
    * the sink's result with the wall seconds of build plus sink.
    *
    * Build and sink run inside a fresh [[operators.GlobalOrder.scoped]]
    * handle, so every frame the query pins belongs to this call alone.
    * The handle is released, blocking, on every path, a throwing build
    * or sink included; the release is not part of the returned seconds.
    * Concurrent calls on one session are safe. */
  def run[T](spark: SparkSession, name: String, dir: String)(
      sink: DataFrame => T): (T, Double) = {
    val fn = queries(name)
    val t0 = System.nanoTime()
    val (out, pins) = operators.GlobalOrder.scoped {
      try Right(sink(fn(spark, dir))) catch { case t: Throwable => Left(t) }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    pins.release(blocking = true)
    out match {
      case Right(v) => (v, sec)
      case Left(t)  => throw t
    }
  }
}
