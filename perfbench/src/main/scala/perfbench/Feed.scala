package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Deterministic Trafikverket-shaped feed: Situation → Deviation XML with
  * the tag names `graft.sources.PagedXmlSource` parses. Every window is a
  * pure function of (seed, window index, size, the keys it re-delivers),
  * so the same seed writes byte-identical files.
  *
  * The shape of a window follows the reference ETL's documented settings
  * (BASELINE.md): pages of 500 rows, at most 20 pages (10,000 rows) per
  * run, a 30-day lookback pulled daily and a 14-day horizon. The base
  * window is one full run; every later window is the next day's pull, so
  * it re-delivers the published keys still in the lookback, most of them
  * unchanged, and adds one day's share of new incidents.
  *
  * Injected at fixed rates, which are chosen and not measured (the
  * reference records none): near-duplicate messages (a copy under a new
  * deviation id, published later), revisions (the same id re-published
  * later in the window), blank messages, expired incidents, bad WKT,
  * missing coordinates, id-less deviations, unknown counties and, among
  * the re-delivered keys, late updates.
  */
object Feed {

  /** The pinned "now" every window is normalized against. */
  val Now: LocalDateTime = LocalDateTime.of(2024, 3, 1, 12, 0)
  val NowSql = "2024-03-01 12:00:00"
  /** Rows per page (reference `DEFAULT_PAGE_SIZE`). */
  val PageSize = 500
  /** Pages per run (reference `max_pages`): at most 10,000 rows a window. */
  val MaxPages = 20
  val MaxRows: Int = PageSize * MaxPages
  /** Days a daily run looks back (reference CI `days_back`). */
  val LookbackDays = 30
  /** Days ahead a run reaches (reference `future_days_limit`). */
  val HorizonDays = 14

  /** Shares of deviations; chosen, not measured. */
  object Rates {
    val NearDup = 0.04
    /** A deviation re-published later in the same window with a revised
      * message; the pipeline's latest-wins dedup keeps the revision. */
    val Revision = 0.03
    val Blank = 0.03
    val Expired = 0.08
    val BadWkt = 0.03
    val NoWkt = 0.03
    val IdLess = 0.02
    val UnknownCounty = 0.04
    val NoEndTime = 0.25
    /** Share of re-delivered keys that changed since they were published. */
    val LateUpdate = 0.04
    /** Share of late updates that close the incident in the past. */
    val UpdateExpires = 0.1
  }

  final case class Dev(
      deviationId: Option[String],
      message: Option[String],
      messageType: String,
      location: String,
      road: String,
      countyNo: Option[String],
      start: String,
      end: Option[String],
      wkt: Option[String])

  final case class Situation(id: String, modified: String, publication: String, devs: Seq[Dev])

  /** A published deviation as its situation last delivered it. */
  final case class Delivered(situation: String, modified: String, dev: Dev)

  /** A window's feed plus what the generator injected into it. */
  final case class Window(index: Int, situations: Seq[Situation], updatedKeys: Set[String],
      redelivered: Int) {
    def deviations: Int = situations.map(_.devs.size).sum
  }

  val MessageTypes: IndexedSeq[String] = IndexedSeq(
    "Vägarbete", "Vägarbete", "Vägarbete", "Olycka", "Hinder", "Restriktion",
    "Trafikmeddelande", "Färjor")
  val Roads: IndexedSeq[String] = IndexedSeq(
    "E4", "E6", "E18", "E20", "E22", "E45", "Väg 40", "Väg 73", "Väg 90", "Väg 222")
  val Places: IndexedSeq[String] = IndexedSeq(
    "Norrtull", "Kista", "Hjulsta", "Kungens kurva", "Tingstad", "Angered",
    "Lund", "Malmo", "Uppsala", "Gavle", "Umea", "Lulea", "Orebro", "Vasteras",
    "Jonkoping", "Karlstad", "Sundsvall", "Kalmar", "Visby", "Falun")
  val Details: IndexedSeq[String] = IndexedSeq(
    "ett korfalt avstangt", "begransad framkomlighet", "omledning via lokalvag",
    "fordon med last", "halka", "signalfel", "djur pa vagen", "beläggningsarbete")
  /** County numbers the feed uses: the 21 real ones plus two unknown codes. */
  val Counties: IndexedSeq[Int] = graft.Pipeline.countyNames.keys.toIndexedSeq.sorted
  val UnknownCounties: IndexedSeq[String] = IndexedSeq("99", "0")

  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  def iso(t: LocalDateTime): String = Iso.format(t)

  private final class Gen(seed: Long, window: Int) {
    val rnd = new java.util.Random(seed * 1000003L + window * 7919L + 17L)
    def chance(p: Double): Boolean = rnd.nextDouble() < p
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
    def minutes(lo: Long, hi: Long): Long = lo + (rnd.nextDouble() * (hi - lo)).toLong
  }

  /** Modification times of window `w`: the base window lies before
    * `Now - 2 days`; incremental window `w` gets its own later 10-minute
    * slot, so a late update is always newer than what it replaces. */
  private def modifiedSlot(g: Gen, w: Int): LocalDateTime =
    if (w == 0) Now.minusDays(LookbackDays + 1).plusMinutes(g.minutes(0, (LookbackDays - 1) * 1440L))
    else Now.minusDays(2).plusMinutes((w - 1) * 10L).plusSeconds(g.minutes(0, 599))

  private def freshDev(g: Gen, id: Option[String], startSlot: Int): Dev = {
    val expired = g.chance(Rates.Expired)
    val start =
      if (expired) Now.minusDays(LookbackDays).plusMinutes(g.minutes(0, (LookbackDays - 2) * 1440L))
      else Now.minusDays(LookbackDays).plusMinutes(g.minutes(0, (LookbackDays + HorizonDays) * 1440L))
    // distinct start minutes within a situation keep synthetic keys unique
    val startT = start.withSecond(0).plusSeconds(startSlot.toLong)
    val end =
      if (expired) Some(minOf(startT.plusMinutes(g.minutes(30, 3 * 1440L)), Now.minusMinutes(5)))
      else if (g.chance(Rates.NoEndTime)) None
      else Some(maxOf(startT, Now).plusMinutes(g.minutes(30, 10 * 1440L)))
    val road = g.pick(Roads)
    val place = g.pick(Places)
    val tpe = g.pick(MessageTypes)
    val message =
      if (g.chance(Rates.Blank)) { if (g.chance(0.5)) None else Some(if (g.chance(0.5)) "" else "   ") }
      else Some(s"$tpe på $road vid $place, ${g.pick(Details)} (${id.getOrElse("x")})")
    val county =
      if (g.chance(Rates.UnknownCounty)) Some(g.pick(UnknownCounties))
      else Some(g.pick(Counties).toString)
    val wkt =
      if (g.chance(Rates.NoWkt)) None
      else if (g.chance(Rates.BadWkt)) Some("POINT EMPTY")
      else {
        val lon = 11.0 + g.rnd.nextInt(1300000) / 100000.0
        val lat = 55.3 + g.rnd.nextInt(1270000) / 100000.0
        Some(s"POINT ($lon $lat)")
      }
    Dev(id, message, tpe, s"$road $place mot ${g.pick(Places)}", road, county,
      iso(startT), end.map(iso), wkt)
  }

  private def minOf(a: LocalDateTime, b: LocalDateTime) = if (a.isBefore(b)) a else b
  private def maxOf(a: LocalDateTime, b: LocalDateTime) = if (a.isAfter(b)) a else b

  /** Window `w` with about `n` new deviations. `published` are the keys an
    * incremental window delivers again, up to the run's row cap: a
    * `LateUpdate` share of them changed (in a new situation modified in
    * this window's slot), the rest unchanged in their own situation. */
  def window(seed: Long, w: Int, n: Int,
      published: IndexedSeq[Delivered] = IndexedSeq.empty): Window = {
    val g = new Gen(seed, w)
    val sits = Vector.newBuilder[Situation]
    val updated = Set.newBuilder[String]
    var sitNo = 0
    val again = if (w == 0) IndexedSeq.empty else published.take(MaxRows - n)
    // late updates: a sample of the re-delivered keys, without repetition
    val chosen = {
      val idx = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (idx.size < (again.size * Rates.LateUpdate).toInt) idx += g.rnd.nextInt(again.size)
      idx.toVector.sorted
    }
    chosen.map(again).grouped(2).foreach { group =>
      sitNo += 1
      val modified = modifiedSlot(g, w)
      val devs = group.map { p =>
        val old = p.dev
        val key = old.deviationId.get
        updated += key
        val closes = g.chance(Rates.UpdateExpires)
        val startT = LocalDateTime.parse(old.start.stripSuffix("Z"))
        val end =
          if (closes && startT.isBefore(Now.minusMinutes(10))) Some(iso(Now.minusMinutes(5)))
          else Some(iso(maxOf(startT, Now).plusMinutes(g.minutes(60, 5 * 1440L))))
        old.copy(
          message = Some(s"${old.messageType} på ${old.road}: uppdaterad i fönster $w (${key})"),
          end = end)
      }
      sits += Situation(s"SIT-$seed-$w-$sitNo", iso(modified), iso(modified.minusMinutes(1)), devs)
    }
    // unchanged re-deliveries, regrouped into the situations they came in
    val unchanged = again.indices.filterNot(chosen.toSet).map(again)
    unchanged.groupBy(p => (p.situation, p.modified)).toSeq.sortBy(_._1).foreach {
      case ((id, modified), ps) =>
        val t = LocalDateTime.parse(modified.stripSuffix("Z"))
        sits += Situation(id, modified, iso(t.minusMinutes(1)), ps.map(_.dev))
    }
    var devCount = 0
    var devNo = 0
    while (devCount < n) {
      sitNo += 1
      val modified = modifiedSlot(g, w)
      val k = 1 + g.rnd.nextInt(3)
      val devs = (0 until k).map { j =>
        devNo += 1
        val id = if (g.chance(Rates.IdLess)) None else Some(s"DEV-$seed-$w-$devNo")
        freshDev(g, id, j)
      }
      devCount += devs.size
      val sitId = s"SIT-$seed-$w-$sitNo"
      sits += Situation(sitId, iso(modified), iso(modified.minusMinutes(1)), devs)
      // near-duplicate: the same incident re-published under a new id in a
      // later situation; the pipeline's composite dedup must drop the copy.
      // revision: the same id re-published later with a revised message;
      // its latest-wins dedup must keep the revision
      devs.foreach { d =>
        if (devCount < n && g.chance(Rates.NearDup)) {
          sitNo += 1
          devNo += 1
          val later = modified.plusMinutes(1 + g.rnd.nextInt(59))
          sits += Situation(s"SIT-$seed-$w-$sitNo", iso(later), iso(later.minusMinutes(1)),
            Seq(d.copy(deviationId = Some(s"DEV-$seed-$w-$devNo"))))
          devCount += 1
        }
        if (devCount < n && d.deviationId.isDefined && g.chance(Rates.Revision)) {
          sitNo += 1
          val later = modified.plusMinutes(60 + g.rnd.nextInt(60))
          sits += Situation(s"SIT-$seed-$w-$sitNo", iso(later), iso(later.minusMinutes(1)),
            Seq(d.copy(message = Some(s"${d.messageType} på ${d.road}: reviderad (${d.deviationId.get})"))))
          devCount += 1
        }
      }
    }
    Window(w, sits.result(), updated.result(), again.size)
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  def xml(win: Window): String = {
    val sb = new StringBuilder(win.deviations * 480)
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<RESPONSE><RESULT>\n")
    def tag(name: String, v: Option[String]): Unit =
      v.foreach(x => sb.append('<').append(name).append('>').append(esc(x))
        .append("</").append(name).append('>'))
    win.situations.foreach { s =>
      sb.append("<Situation>")
      tag("Id", Some(s.id))
      tag("PublicationTime", Some(s.publication))
      tag("ModifiedTime", Some(s.modified))
      s.devs.foreach { d =>
        sb.append("\n  <Deviation>")
        tag("DeviationId", d.deviationId)
        tag("Message", d.message)
        tag("MessageType", Some(d.messageType))
        tag("LocationDescriptor", Some(d.location))
        tag("RoadNumber", Some(d.road))
        tag("CountyNo", d.countyNo)
        tag("StartTime", Some(d.start))
        tag("EndTime", d.end)
        d.wkt.foreach(w => { sb.append("<Geometry>"); tag("WGS84", Some(w)); sb.append("</Geometry>") })
        sb.append("</Deviation>")
      }
      sb.append("</Situation>\n")
    }
    sb.append("</RESULT></RESPONSE>\n")
    sb.toString
  }

  /** Writes the window's XML to `path` (the feed "landing"). */
  def write(win: Window, path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, xml(win))
  }
}
