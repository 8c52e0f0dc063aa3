package perfbench

import java.time.LocalDateTime

/** Ground truth computed without Spark: what `Pipeline.normalizeIncidents`
  * and a keyed upsert must produce from a generated window, and what every
  * dashboard chart must show over the published table. It restates the
  * documented semantics (status from the pinned now, blank and expired
  * drops, composite then latest-wins dedup, update-side-wins upsert) over
  * the generator's own records, never over graft's output.
  */
object Truth {
  import Feed.Now

  final case class Row(
      incidentId: String,
      status: String,
      message: String,
      messageType: String,
      location: String,
      road: String,
      countyDisplay: String,
      startTime: String,
      startTs: LocalDateTime,
      modifiedTs: LocalDateTime,
      lat: Option[Double],
      lon: Option[Double],
      situation: String,
      dev: Feed.Dev) {
    /** This row as the feed delivered it, for a later re-delivery. */
    def delivered: Feed.Delivered = Feed.Delivered(situation, Feed.iso(modifiedTs), dev)
  }

  /** Rows per pipeline stage for one window. */
  final case class Stages(parsed: Int, expired: Int, blank: Int, d1Removed: Int,
      d2Removed: Int, out: Int)

  def ts(iso: String): LocalDateTime = LocalDateTime.parse(iso.stripSuffix("Z"))

  def status(start: LocalDateTime, end: Option[LocalDateTime]): Option[String] =
    if (start.isAfter(Now)) Some("KOMMANDE")
    else if (end.forall(_.isAfter(Now))) Some("PÅGÅR")
    else None

  /** (lat, lon) of a generated WKT; only `POINT (x y)` carries a position. */
  def coords(wkt: Option[String]): Option[(Double, Double)] = wkt.flatMap { w =>
    val m = "POINT \\(([-0-9.]+) ([-0-9.]+)\\)".r.findFirstMatchIn(w)
    m.map(x => (x.group(2).toDouble, x.group(1).toDouble))
  }

  def countyDisplay(countyNo: Option[String]): String =
    countyNo.flatMap(_.trim.toIntOption).flatMap(graft.Pipeline.countyNames.get)
      .getOrElse("Okänt län")

  def normalize(win: Feed.Window): (Seq[Row], Stages) = {
    val parsed = for (s <- win.situations; d <- s.devs) yield (s, d)
    val withStatus = parsed.map { case (s, d) =>
      (s, d, status(ts(d.start), d.end.map(ts)))
    }
    val live = withStatus.filter(_._3.isDefined)
    val kept = live.filter(_._2.message.exists(_.trim.nonEmpty))
    val rows = kept.map { case (s, d, st) =>
      val c = coords(d.wkt)
      Row(d.deviationId.getOrElse(s"${s.id}:${d.start}"), st.get, d.message.get,
        d.messageType, d.location, d.road, countyDisplay(d.countyNo), d.start,
        ts(d.start), ts(s.modified), c.map(_._1), c.map(_._2), s.id, d)
    }
    // D1: composite key, earliest modification then smallest key survives
    val d1 = rows.groupBy(r => (r.message, r.location, r.startTime, r.dev.end))
      .values.map(_.minBy(r => (r.modifiedTs, r.incidentId))).toSeq
    // D2: latest modification per key
    val d2 = d1.groupBy(_.incidentId).values.map(_.maxBy(_.modifiedTs)).toSeq
    (d2.sortBy(_.incidentId), Stages(parsed.size, parsed.size - live.size,
      live.size - kept.size, rows.size - d1.size, d1.size - d2.size, d2.size))
  }

  /** Update-side-wins keyed upsert. */
  def upsert(target: Map[String, Row], window: Seq[Row]): Map[String, Row] =
    target ++ window.map(r => r.incidentId -> r)

  // ------------------------------------------------------------ dashboard

  /** The dashboard base view's 30-day scan window, as a literal. */
  val SinceSql = "2024-02-10 12:00:00"
  val Since: LocalDateTime = ts("2024-02-10T12:00:00Z")

  def baseView(table: Iterable[Row]): Seq[Row] =
    table.filter(r => !r.startTs.isBefore(Since)).toSeq

  private def tsLit(s: String): LocalDateTime = LocalDateTime.parse(s.replace(' ', 'T'))

  def filter(rows: Seq[Row], f: graft.Dashboard.Filters): Seq[Row] = rows.filter { r =>
    def has(v: String, q: String) = v.toLowerCase.contains(q.toLowerCase)
    (f.statuses.isEmpty || f.statuses.contains(r.status)) &&
    (f.counties.isEmpty || f.counties.contains(r.countyDisplay)) &&
    f.tsFrom.forall(a => !r.startTs.isBefore(tsLit(a))) &&
    f.tsUntil.forall(b => r.startTs.isBefore(tsLit(b))) &&
    f.freeText.forall(q => has(r.message, q) || has(r.location, q) || has(r.road, q)) &&
    f.road.forall(q => has(r.road, q)) &&
    (!f.geoOnly || (r.lat.isDefined && r.lon.isDefined))
  }

  def kpis(rows: Seq[Row]): (Long, Long, Long) =
    (rows.count(_.status == "PÅGÅR").toLong, rows.count(_.status == "KOMMANDE").toLong,
      rows.size.toLong)

  private def desc(counts: Map[String, Int]): Seq[(String, Long)] =
    counts.toSeq.sortWith { case ((a, n), (b, m)) => n > m || (n == m && a < b) }
      .map { case (k, n) => (k, n.toLong) }

  def countyCounts(rows: Seq[Row], topK: Int): Seq[(String, Long)] =
    desc(rows.groupMapReduce(_.countyDisplay)(_ => 1)(_ + _)).take(topK)

  def typeHistogram(rows: Seq[Row]): Seq[(String, Long)] =
    desc(rows.groupMapReduce(_.messageType)(_ => 1)(_ + _))

  def dailyTrend(rows: Seq[Row]): Seq[(String, Long)] =
    rows.groupMapReduce(_.startTs.toLocalDate.toString)(_ => 1)(_ + _).toSeq.sorted
      .map { case (k, n) => (k, n.toLong) }

  private val centers: Map[String, (Double, Double)] =
    graft.Dashboard.CountyCenters.map { case (c, la, lo) => c -> (la, lo) }.toMap

  /** Map points as (incident_id, lat, lon). */
  def mapPoints(rows: Seq[Row], approxMissing: Boolean): Seq[(String, Double, Double)] =
    rows.flatMap { r =>
      val c = centers.get(r.countyDisplay).filter(_ => approxMissing)
      val lat = r.lat.orElse(c.map(_._1))
      val lon = r.lon.orElse(c.map(_._2))
      for (a <- lat; o <- lon) yield (r.incidentId, a, o)
    }

  def zoom(span: Double): Int =
    if (span <= 0.08) 11 else if (span <= 0.25) 9 else if (span <= 0.6) 7
    else if (span <= 1.2) 6 else if (span <= 3.0) 5 else 4

  /** (lat_center, lon_center, span, zoom), or None on an empty map. */
  def viewport(points: Seq[(String, Double, Double)]): Option[(Double, Double, Double, Int)] =
    if (points.isEmpty) None
    else {
      val (la0, la1) = (points.map(_._2).min, points.map(_._2).max)
      val (lo0, lo1) = (points.map(_._3).min, points.map(_._3).max)
      val span = math.max(la1 - la0, lo1 - lo0)
      Some(((la0 + la1) / 2, (lo0 + lo1) / 2, span, zoom(span)))
    }

  def tableView(rows: Seq[Row], sortCol: String, ascending: Boolean, maxRows: Int): Seq[String] = {
    val byKey: Ordering[Row] = sortCol match {
      case "start_ts" => Ordering.by[Row, LocalDateTime](_.startTs)
      case "modified_ts" => Ordering.by[Row, LocalDateTime](_.modifiedTs)
      case "county_display" => Ordering.by[Row, String](_.countyDisplay)
      case "road_number" => Ordering.by[Row, String](_.road)
      case "message_type" => Ordering.by[Row, String](_.messageType)
    }
    val ord = (if (ascending) byKey else byKey.reverse).orElseBy(_.incidentId)
    rows.sorted(ord).take(maxRows).map(_.incidentId)
  }
}
