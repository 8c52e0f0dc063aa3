package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run. Every name below is reported on
  * every workload; a layer that does no work on a workload reports 0.
  * Times and counts are per operation (window, interaction or query)
  * unless the name says otherwise, so they do not grow with the number of
  * operations that fit into the run. */
object Layers {

  val Charts: Seq[String] =
    Seq("kpis", "countyCounts", "mapPoints", "viewport", "tableView", "dailyTrend", "typeHistogram")

  /** The layers spans are named after; their self times split the wall. */
  val SpanLayers: Seq[String] =
    Seq("sources", "pipeline", "publish", "dashboard", "registry", "bench", "probe")

  val Metrics: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.plan_s" -> "s", "sources.partitions" -> "count",
    "sources.rows" -> "count",
    "pipeline.normalize_s" -> "s", "pipeline.rows_out" -> "count",
    "pipeline.dropped_expired" -> "count", "pipeline.dropped_blank" -> "count",
    "pipeline.d1_removed" -> "count", "pipeline.d2_removed" -> "count",
    "pipeline.shuffle_write_mb" -> "MB",
    "publish.self_s" -> "s", "publish.files" -> "count", "publish.bytes_written" -> "bytes",
    "publish.rows_rewritten_per_window_row" -> "ratio",
    "dashboard.base_view_ms" -> "ms", "dashboard.refresh_ms" -> "ms") ++
    Charts.map(c => s"dashboard.${c}_ms" -> "ms") ++ Seq(
    "dashboard.jobs_per_interaction" -> "count", "dashboard.cache_hit_ratio" -> "ratio",
    "registry.build_s" -> "s", "registry.eager_jobs" -> "count", "registry.plan_s" -> "s",
    "registry.action_s" -> "s", "registry.jobs" -> "count",
    "registry.pinned_after_release" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.deser_s" -> "s", "spark.job_idle_s" -> "s", "spark.slot_util" -> "ratio",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.failed_tasks" -> "count",
    "driver.gc_s" -> "s", "driver.heap_after_gc_mb" -> "MB") ++
    SpanLayers.map(l => s"self.${l}_share" -> "ratio") ++ Seq(
    "trace.wall_s" -> "s", "trace.overhead_share" -> "ratio")

  private val MB = 1048576.0

  /** Self time per layer, in ns. An ingest span with prefix probes
    * (`split`: span id -> (scan ns, normalize ns)) is split three ways:
    * sources get the scan prefix, pipeline the normalize prefix beyond it
    * and publish the rest, each clamped so that the three add up to the
    * span's self time. */
  def selfByLayer(spans: Seq[Span], split: collection.Map[Int, (Long, Long)]): Map[String, Long] = {
    val self = Span.selfNs(spans)
    val parts = spans.flatMap { s =>
      val own = self(s.id)
      split.get(s.id) match {
        case Some((scan, norm)) =>
          val src = math.min(scan, own)
          val pipe = math.min(math.max(0L, norm - scan), own - src)
          Seq("sources" -> src, "pipeline" -> pipe, "publish" -> (own - src - pipe))
        case None => Seq(s.layer -> own)
      }
    }
    parts.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def report(tr: Tracer, out: Outcome, gcS: Double, heapMb: Double)
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val spans = tr.all
    val root = spans.find(_.name == "bench.workload").get
    val kids = spans.groupBy(_.parent)
    def under(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: under(s.id))
    val measured = under(root.id)
    val ops = math.max(1, out.attempted).toDouble
    val v = mutable.Map.empty[String, Double]

    // Spark's work on graft's behalf: everything in the measured phase
    // except the probes the traced run adds
    val work = new SparkWork
    work.add(tr.workOf(root.id))
    measured.filter(_.layer != "probe").foreach(s => work.add(tr.workOf(s.id)))
    v("spark.jobs") = work.jobs / ops
    v("spark.stages") = work.stages / ops
    v("spark.tasks") = work.tasks / ops
    v("spark.task_run_s") = work.taskRunMs / 1e3 / ops
    v("spark.task_cpu_s") = work.taskCpuNs / 1e9 / ops
    v("spark.gc_s") = work.gcMs / 1e3 / ops
    v("spark.deser_s") = work.deserMs / 1e3 / ops
    v("spark.job_idle_s") = work.jobIdleMs / 1e3 / ops
    v("spark.slot_util") =
      if (work.jobWallMs == 0) 0.0 else work.taskRunMs.toDouble / (work.jobWallMs * Main.Cpus)
    v("spark.shuffle_read_mb") = work.shuffleReadB / MB / ops
    v("spark.shuffle_write_mb") = work.shuffleWriteB / MB / ops
    v("spark.spill_mb") = work.spillB / MB / ops
    v("spark.failed_tasks") = work.failedTasks.toDouble
    v("driver.gc_s") = gcS
    v("driver.heap_after_gc_mb") = heapMb

    // dashboard: chart spans wherever they ran
    def named(n: String) = spans.filter(_.name == n)
    def meanMs(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / 1e6 / ss.size
    Charts.foreach(c => v(s"dashboard.${c}_ms") = meanMs(named(s"dashboard.$c")))
    v("dashboard.base_view_ms") = meanMs(named("dashboard.base_view"))
    v("dashboard.refresh_ms") = meanMs(named("dashboard.refresh"))
    val sets = named("dashboard.charts")
    if (sets.nonEmpty) {
      val w = new SparkWork
      sets.foreach(s => w.add(tr.workUnder(s.id)))
      v("dashboard.jobs_per_interaction") = w.jobs.toDouble / sets.size
      v("dashboard.cache_hit_ratio") = if (w.actions == 0) 0.0 else w.cachedActions.toDouble / w.actions
    }

    // registry: per query
    def meanS(n: String) = meanMs(named(n)) / 1e3
    def jobsPer(n: String) = {
      val ss = named(n)
      if (ss.isEmpty) 0.0 else ss.map(s => tr.workUnder(s.id).jobs).sum.toDouble / ss.size
    }
    if (named("registry.build").nonEmpty) {
      v("registry.build_s") = meanS("registry.build")
      v("registry.eager_jobs") = jobsPer("registry.build")
      v("registry.plan_s") = meanS("registry.plan")
      v("registry.action_s") = meanS("registry.action")
      v("registry.jobs") = jobsPer("registry.action")
      v("registry.pinned_after_release") = out.pinned.toDouble / ops
    }

    // self times: how the measured wall splits over the layers
    val byLayer = selfByLayer(root +: measured, out.split)
    val strays = byLayer.keySet -- SpanLayers
    require(strays.isEmpty, s"spans outside the known layers: $strays")
    require(byLayer.values.sum == root.durNs,
      s"self times add up to ${byLayer.values.sum} ns, the wall is ${root.durNs} ns")
    val wall = root.durNs / 1e9
    SpanLayers.foreach(l => v(s"self.${l}_share") = byLayer.getOrElse(l, 0L) / 1e9 / wall)
    v("trace.wall_s") = wall
    v("trace.overhead_share") = tr.overheadSeconds / wall

    out.layer.foreach { case (k, (x, _)) => v(k) = x }
    val unknown = v.keySet -- Metrics.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from Layers.Metrics: $unknown")
    mutable.LinkedHashMap.from(Metrics.map { case (k, u) => k -> (v.getOrElse(k, 0.0), u) })
  }
}
