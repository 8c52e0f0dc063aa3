package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Dashboard, Pipeline}

/** Shared pieces of the two workloads that ingest generated feeds. */
object Ingest {
  val nowLit: Column = expr(s"TIMESTAMP_NTZ '${Feed.NowSql}'")
  val sinceLit: Column = expr(s"TIMESTAMP_NTZ '${Truth.SinceSql}'")

  def run(spark: SparkSession, tr: Tracer, feed: Path, target: String): DataFrame =
    tr.span("ingest.run")(Pipeline.runIngest(spark, feed.toString, target, nowLit, Feed.PageSize))

  /** The published table as a cached dashboard base view, filled. */
  def baseView(spark: SparkSession, tr: Tracer, table: DataFrame): DataFrame =
    tr.span("dashboard.base_view") {
      val v = Dashboard.baseView(spark, table, Some(sinceLit))
      v.count()
      v
    }

  /** Order-free content hash of a table: (rows, xor of row hashes). */
  def contentHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.sorted.map(col): _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def read(spark: SparkSession, feed: Path): DataFrame =
    spark.read.format("graft.sources.PagedXmlSource").option("path", feed.toString)
      .option("pageSize", Feed.PageSize.toString).option("maxPages", Int.MaxValue.toString).load()

  /** The published table equals the ground truth row for row on the
    * checked columns; late updates therefore won. */
  def checkTable(spark: SparkSession, target: String, truth: Map[String, Truth.Row]): Option[String] = {
    val got = spark.read.parquet(target)
      .select("incident_id", "status", "message", "county_display", "modified_ts",
        "latitude", "longitude")
      .collect().map { r =>
        r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3),
          r.getAs[java.time.LocalDateTime](4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)))
      }
    val want = truth.map { case (k, r) =>
      k -> (r.status, r.message, r.countyDisplay, r.modifiedTs, r.lat, r.lon)
    }
    if (got.length != got.map(_._1).distinct.length) Some("published table has duplicate keys")
    else {
      val g = got.toMap
      val missing = want.keySet -- g.keySet
      val extra = g.keySet -- want.keySet
      val differ = want.keys.filter(k => g.get(k).exists(_ != want(k)))
      if (missing.isEmpty && extra.isEmpty && differ.isEmpty) None
      else Some(s"published table: ${missing.size} keys missing (${missing.take(3)}), " +
        s"${extra.size} unexpected (${extra.take(3)}), ${differ.size} differ " +
        differ.take(2).map(k => s"$k: ${g(k)} vs ${want(k)}").mkString("; "))
    }
  }
}

/** etl_cycle: a base window of `BaseRows` deviations ingested cold onto an
  * empty target, then daily incremental windows until the deadline, then a
  * replay of the last window. An incremental window re-delivers the
  * published keys (a `Feed.Rates.LateUpdate` share of them changed) and
  * adds `NewPerWindow` new deviations. After every window is ingested and
  * published, the dashboard refreshes (a new cached base view and one
  * chart set over the republished table); after each incremental window
  * one user then makes `InteractionsPerWindow` filter changes, each
  * followed by the full chart set over the cached view. Every chart set
  * and the final table are checked against the generator's ground truth.
  *
  * Traced runs add prefix probes after each ingest, the replay's too, on a
  * fresh parse: feed → noop sink (sources) and feed → normalize → noop
  * sink (pipeline). The publish layer is what `runIngest` costs beyond the
  * normalize prefix; what it wrote comes from the ingest's task output
  * metrics. Row counts per pipeline stage come from the ground truth,
  * which the final table check holds graft's output to. */
final class EtlCycle(args: Main.Args) extends Workload {
  import EtlCycle._

  private val work = Paths.get(args.work)
  private val target = work.resolve("target").toString
  private var base: Feed.Window = _

  override def generate(): Unit = {
    base = Feed.window(args.seed, 0, BaseRows)
    Feed.write(base, feedPath(0))
  }

  private def feedPath(w: Int, suffix: String = ""): Path = work.resolve(s"feeds/w$w$suffix.xml")

  override def run(spark: SparkSession, tr: Tracer, deadlineNs: Long): Outcome = {
    val out = new Outcome
    var table = Map.empty[String, Truth.Row]
    var view: DataFrame = null
    val ingestS = mutable.ArrayBuffer.empty[Double]
    val freshS = mutable.ArrayBuffer.empty[Double]
    val probes = mutable.ArrayBuffer.empty[Probe]
    var last: Feed.Window = base
    var lastStages: Truth.Stages = null
    var state = ChartSet.State()
    var changes = 0

    /** One window: ingest + publish, then the dashboard's refresh over the
      * new table. Freshness runs from the feed's landing (the ingest's
      * start) to the refresh's end; expected charts are computed before. */
    def window(win: Feed.Window, feed: Path): Boolean = tr.op(s"bench.window.${win.index}") {
      val (rows, stages) = Truth.normalize(win)
      lastStages = stages
      table = Truth.upsert(table, rows)
      val expected = ChartSet.expect(Truth.baseView(table.values), state)
      val t0 = System.nanoTime()
      val result =
        try {
          val published = Ingest.run(spark, tr, feed, target)
          val ingested = System.nanoTime()
          val ingest = if (args.trace) Some(tr.last) else None
          val problems = tr.span("dashboard.refresh") {
            if (view != null) view.unpersist(blocking = true)
            view = Ingest.baseView(spark, tr, published)
            ChartSet.run(tr, view, state, expected, "dashboard.charts")._2
          }
          val done = System.nanoTime()
          ingest.foreach(i => probes += probe(spark, tr, feed, i, stages))
          Right(((ingested - t0) / 1e9, (done - t0) / 1e9, problems))
        } catch { case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
      val name = s"window.${win.index}"
      result match {
        case Right((ing, fresh, Nil)) =>
          if (win.index == 0) out.coldS = ing
          else { ingestS += ing; freshS += fresh }
          out.record(name, None, None)
          true
        case Right((_, _, problems)) => out.record(name, None, Some(problems.mkString("; "))); false
        case Left(err) => out.record(name, None, Some(err)); false
      }
    }

    /** Filter changes over the cached view, each followed by the chart set. */
    def interact(w: Int): Unit = {
      val truthView = Truth.baseView(table.values)
      (0 until InteractionsPerWindow).foreach { i =>
        state = Interactions.change(changes, state)
        changes += 1
        val expected = ChartSet.expect(truthView, state)
        val name = s"interaction.$w.$i"
        tr.op(s"bench.$name") {
          val (ms, problems) =
            try ChartSet.run(tr, view, state, expected, "dashboard.charts")
            catch { case t: Throwable => (0.0, Seq(s"${t.getClass.getSimpleName}: ${t.getMessage}")) }
          out.record(name, Some(ms), if (problems.isEmpty) None else Some(problems.mkString("; ")))
        }
      }
    }

    window(base, feedPath(0))
    var w = 1
    while (w <= MinIncremental || System.nanoTime() < deadlineNs) {
      // the lookback covers every published key; id-less ones are not
      // re-delivered, as their synthetic key needs the situation's id
      val published = table.toIndexedSeq.sortBy(_._1).collect {
        case (k, r) if r.dev.deviationId.contains(k) => r.delivered
      }
      val win = Feed.window(args.seed, w, NewPerWindow, published)
      Feed.write(win, feedPath(w))
      if (window(win, feedPath(w))) interact(w)
      last = win
      w += 1
    }

    // replay: the last window delivered again must leave the target as is
    tr.op("bench.replay") {
      val problem =
        try {
          val before = tr.span("bench.hash")(Ingest.contentHash(spark.read.parquet(target)))
          val feed = feedPath(last.index, "-replay")
          Feed.write(last, feed)
          val t0 = System.nanoTime()
          Ingest.run(spark, tr, feed, target)
          // a replay is one more incremental ingest of the same size
          ingestS += (System.nanoTime() - t0) / 1e9
          if (args.trace) probes += probe(spark, tr, feed, tr.last, lastStages)
          val after = tr.span("bench.hash")(Ingest.contentHash(spark.read.parquet(target)))
          if (before != after) Some(s"replayed window changed the target: $before -> $after") else None
        } catch { case t: Throwable => Some(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
      out.record("window.replay", None, problem)
    }
    tr.op("bench.check.table") {
      out.record("check.table", None, Ingest.checkTable(spark, target, table))
    }
    if (view != null) view.unpersist(blocking = true)

    out.warmS = Workload.median(ingestS.toSeq)
    out.named("ingest_cold_s") = (out.coldS, "s")
    out.named("ingest_warm_s") = (out.warmS, "s")
    out.named("freshness_s") = (Workload.median(freshS.toSeq), "s")
    out.named("interaction_p50_ms") = (Workload.quantile(out.ops.toSeq, 0.5), "ms")
    out.named("interaction_p90_ms") = (Workload.quantile(out.ops.toSeq, 0.9), "ms")
    out.named("interactions") = (out.ops.size.toDouble, "count")
    out.named("windows") = (w.toDouble, "count")
    out.named("window_rows") = (last.deviations.toDouble, "count")
    out.named("table_rows") = (table.size.toDouble, "count")
    if (args.trace) summarize(probes.toSeq, out)
    out
  }

  /** Prefix probes of one ingest (the span `ingest`) on a fresh parse of
    * its feed. */
  private def probe(spark: SparkSession, tr: Tracer, feed: Path, ingest: Span,
      stages: Truth.Stages): Probe = {
    val file = feed.toFile
    // a new modification time makes the source parse the feed afresh, as
    // the ingest did
    def fresh(): Unit = file.setLastModified(file.lastModified() + 1000)
    var scanWallMs = 0L
    tr.span("probe.scan") {
      fresh()
      scanWallMs = System.currentTimeMillis()
      Ingest.read(spark, feed).write.format("noop").mode("overwrite").save()
    }
    val scan = tr.last
    tr.span("probe.normalize") {
      fresh()
      Pipeline.normalizeIncidents(spark, Ingest.read(spark, feed), Ingest.nowLit)
        .write.format("noop").mode("overwrite").save()
    }
    val norm = tr.last
    val scanWork = tr.workOf(scan.id)
    Probe(ingestId = ingest.id, ingestNs = ingest.durNs, scanNs = scan.durNs, normNs = norm.durNs,
      partitions = scanWork.tasks,
      planS = math.max(0L, scanWork.firstJobStartMs - scanWallMs) / 1e3,
      normShuffleMb = tr.workOf(norm.id).shuffleWriteB / 1048576.0,
      stages = stages, written = tr.workOf(ingest.id))
  }

  private def summarize(ps: Seq[Probe], out: Outcome): Unit = {
    val warm = if (ps.size > 1) ps.drop(1) else ps
    def mean(f: Probe => Double) = warm.map(f).sum / warm.size
    // per incremental window and the replay (the base window if it is the
    // only one)
    out.layer("sources.scan_s") = (mean(_.scanNs / 1e9), "s")
    out.layer("sources.partitions") = (mean(_.partitions.toDouble), "count")
    out.layer("sources.rows") = (mean(_.stages.parsed.toDouble), "count")
    out.layer("sources.plan_s") = (mean(_.planS), "s")
    out.layer("pipeline.normalize_s") = (mean(p => (p.normNs - p.scanNs) / 1e9), "s")
    out.layer("pipeline.rows_out") = (mean(_.stages.out.toDouble), "count")
    out.layer("pipeline.dropped_expired") = (mean(_.stages.expired.toDouble), "count")
    out.layer("pipeline.dropped_blank") = (mean(_.stages.blank.toDouble), "count")
    out.layer("pipeline.d1_removed") = (mean(_.stages.d1Removed.toDouble), "count")
    out.layer("pipeline.d2_removed") = (mean(_.stages.d2Removed.toDouble), "count")
    out.layer("pipeline.shuffle_write_mb") = (mean(_.normShuffleMb), "MB")
    out.layer("publish.self_s") = (mean(p => (p.ingestNs - p.normNs) / 1e9), "s")
    out.layer("publish.files") = (mean(_.written.filesWritten.toDouble), "count")
    out.layer("publish.bytes_written") = (mean(_.written.bytesWritten.toDouble), "bytes")
    out.layer("publish.rows_rewritten_per_window_row") =
      (mean(p => p.written.recordsWritten.toDouble / math.max(1, p.stages.out)), "ratio")
    ps.foreach(p => out.split(p.ingestId) = (p.scanNs, p.normNs))
  }
}

object EtlCycle {
  /** Deviations in the base window: one full run of the reference client. */
  val BaseRows: Int = Feed.MaxRows
  /** New deviations a daily window adds: one day of the lookback. */
  val NewPerWindow: Int = BaseRows / Feed.LookbackDays
  /** Incremental windows run even if the deadline has passed. */
  val MinIncremental = 2
  /** Dashboard interactions after every incremental window (chosen). */
  val InteractionsPerWindow = 3

  /** What a traced run's probes measured for one ingest; `written` is the
    * Spark work of the ingest span itself. */
  final case class Probe(ingestId: Int, ingestNs: Long, scanNs: Long, normNs: Long,
      partitions: Long, planS: Double, normShuffleMb: Double, stages: Truth.Stages,
      written: SparkWork)
}
