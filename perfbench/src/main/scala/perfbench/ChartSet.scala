package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}

import graft.Dashboard

/** The dashboard's full chart set over one filter state, checked against
  * counts computed from the generator's rows without Spark. */
object ChartSet {

  final case class State(
      filters: Dashboard.Filters = Dashboard.Filters(),
      sortCol: String = "start_ts",
      ascending: Boolean = false,
      approxMissing: Boolean = true)

  val TopK = 10
  val MaxRows = 50

  private def day(v: Any): String = v match {
    case t: LocalDateTime => t.toLocalDate.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate.toString
    case t: java.time.Instant => t.toString.take(10)
    case other => String.valueOf(other)
  }

  private def pairs(rows: Array[Row]): Seq[(String, Long)] =
    rows.toSeq.map(r => (r.getString(0), r.getLong(1)))

  final case class Expected(
      kpis: (Long, Long, Long),
      county: Seq[(String, Long)],
      points: Seq[(String, Double, Double)],
      viewport: Option[(Double, Double, Double, Int)],
      table: Seq[String],
      trend: Seq[(String, Long)],
      types: Seq[(String, Long)])

  /** The charts the state must show over the base-view rows `truth`. */
  def expect(truth: Seq[Truth.Row], s: State): Expected = {
    val rows = Truth.filter(truth, s.filters)
    val points = Truth.mapPoints(rows, s.approxMissing)
    Expected(Truth.kpis(rows), Truth.countyCounts(rows, TopK), points.sortBy(_._1),
      Truth.viewport(points), Truth.tableView(rows, s.sortCol, s.ascending, MaxRows),
      Truth.dailyTrend(rows), Truth.typeHistogram(rows))
  }

  /** Runs the chart set inside a span named `setName`; returns its wall
    * time in ms and every mismatch against `expected`. */
  def run(tr: Tracer, base: DataFrame, s: State, expected: Expected,
      setName: String): (Double, Seq[String]) = {
    val t0 = System.nanoTime()
    val got = tr.span(setName) {
      val df = tr.span("dashboard.applyFilters")(Dashboard.applyFilters(base, s.filters))
      val kpis = tr.span("dashboard.kpis")(Dashboard.kpis(df))
      val county = tr.span("dashboard.countyCounts")(
        Dashboard.countyCounts(df, Some(TopK)).collect())
      val pts = Dashboard.mapPoints(df, s.approxMissing)
      val ptsRows = tr.span("dashboard.mapPoints")(pts.collect())
      val vp = tr.span("dashboard.viewport")(Dashboard.viewport(pts).collect())
      val table = tr.span("dashboard.tableView")(
        Dashboard.tableView(df, s.sortCol, s.ascending, MaxRows).collect())
      val trend = tr.span("dashboard.dailyTrend")(Dashboard.dailyTrend(df).collect())
      val types = tr.span("dashboard.typeHistogram")(Dashboard.typeHistogram(df).collect())
      (kpis, county, ptsRows, vp, table, trend, types)
    }
    val ms = (System.nanoTime() - t0) / 1e6

    val (kpis, county, ptsRows, vp, table, trend, types) = got
    val problems = Seq.newBuilder[String]
    def check(what: String, a: Any, b: Any): Unit =
      if (a != b) problems += s"$what: got ${String.valueOf(a).take(200)}, expected ${String.valueOf(b).take(200)}"
    check("kpis", kpis, expected.kpis)
    check("countyCounts", pairs(county), expected.county)
    check("mapPoints",
      ptsRows.toSeq.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1), expected.points)
    val v = vp.head
    val gotVp =
      if (v.isNullAt(0)) None
      else Some((v.getDouble(0), v.getDouble(1), v.getDouble(2), v.getInt(3)))
    check("viewport", gotVp, expected.viewport)
    if (gotVp.isEmpty) check("viewport zoom of an empty map", v.getInt(3), 4)
    check("tableView", table.toSeq.map(_.getAs[String]("incident_id")), expected.table)
    check("dailyTrend", trend.toSeq.map(r => (day(r.get(0)), r.getLong(1))), expected.trend)
    check("typeHistogram", pairs(types), expected.types)
    (ms, problems.result())
  }
}
