package perfbench

import graft.Dashboard.Filters

/** A dashboard user's session: a fixed script of filter changes, one
  * control at a time, over status, county, date range, free text, road,
  * geo-only, sort column and approx-missing, with a reset now and then.
  * The feed comes from the seed; the script is the same in every run so
  * that runs with different seeds make the same interactions. */
object Interactions {
  private def days(d: Long) = Truth.Since.plusDays(d).toLocalDate.toString + " 00:00:00"

  val Script: IndexedSeq[ChartSet.State => ChartSet.State] = IndexedSeq(
    s => s.copy(filters = s.filters.copy(statuses = Seq("PÅGÅR"))),
    s => s.copy(filters = s.filters.copy(
      counties = Seq("Stockholms län", "Västra Götalands län", "Skåne län"))),
    s => s.copy(sortCol = "modified_ts", ascending = false),
    s => s.copy(filters = Filters()),
    s => s.copy(filters = s.filters.copy(tsFrom = Some(days(10)), tsUntil = Some(days(24)))),
    s => s.copy(filters = s.filters.copy(freeText = Some("halka"))),
    s => s.copy(filters = s.filters.copy(geoOnly = true)),
    s => s.copy(approxMissing = false),
    s => s.copy(filters = Filters(), approxMissing = true),
    s => s.copy(filters = s.filters.copy(road = Some("e4"))),
    s => s.copy(filters = s.filters.copy(statuses = Seq("KOMMANDE"))),
    s => s.copy(sortCol = "county_display", ascending = true),
    s => s.copy(filters = Filters()),
    s => s.copy(filters = s.filters.copy(freeText = Some("uppsala"))),
    s => s.copy(filters = s.filters.copy(counties = Seq("Uppsala län", "Okänt län"))),
    s => s.copy(filters = s.filters.copy(statuses = Seq("PÅGÅR", "KOMMANDE")),
      sortCol = "start_ts", ascending = true))

  /** The state after the `i`-th change (the script repeats). */
  def change(i: Int, s: ChartSet.State): ChartSet.State = Script(i % Script.size)(s)
}
