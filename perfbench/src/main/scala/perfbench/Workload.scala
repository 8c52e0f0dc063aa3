package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload's measured phase produced. `ops` are the latencies
  * (ms) of the workload's interactive operations that succeeded; `coldS`
  * is its first unit of work in the fresh JVM and `warmS` the median of
  * the same unit repeated warm. `named` are the workload's own end-to-end
  * figures; `layer` its per-layer ones. */
final class Outcome {
  val ops = mutable.ArrayBuffer.empty[Double]
  var coldS = 0.0
  var warmS = 0.0
  var attempted = 0
  var failed = 0
  /** Persisted RDDs left after the pins were released, summed over ops. */
  var pinned = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Prefix probes of ingest spans: span id -> (feed → noop sink ns,
    * feed → normalize → noop sink ns), which split its self time between
    * sources, pipeline and publish. */
  val split = mutable.LinkedHashMap.empty[Int, (Long, Long)]

  /** Records one operation: its latency if it succeeded, a failure (and
    * no latency) otherwise. */
  def record(name: String, ms: Option[Double], problem: Option[String]): Unit = {
    attempted += 1
    problem match {
      case Some(p) =>
        failed += 1
        if (problems.size < 20) problems += s"$name: $p"
        System.err.println(s"[perfbench] FAILED $name: $p")
      case None =>
        ms.foreach(ops += _)
        System.err.println(f"[perfbench] $name ${ms.getOrElse(Double.NaN)}%.1f ms")
    }
  }
}

trait Workload {
  /** Inputs made from the seed; runs before the set-up clock starts. */
  def generate(): Unit = ()
  /** The measured phase; stops starting new work after `deadlineNs`. */
  def run(spark: SparkSession, tr: Tracer, deadlineNs: Long): Outcome
}

object Workload {
  /** Session starts per run: the first, cold one is the set-up time; the
    * median of the later, warm restarts is reported by name. */
  val Setups = 5

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** One JSON object per span: timing, self time and its own Spark work. */
  def writeSpans(tr: Tracer, path: String): Unit = {
    val self = Span.selfNs(tr.all)
    val lines = tr.all.map { s =>
      val w = tr.workOf(s.id)
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},""" +
        s""""jobs":${w.jobs},"tasks":${w.tasks},"task_run_ms":${w.taskRunMs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  /** Runs the workload and returns its result as one JSON object. */
  def measure(w: Workload, args: Main.Args): String = {
    w.generate()
    val tr = new Tracer(args.trace)
    // set-up: session start and graft's extension install, first in this
    // fresh JVM, then restarted; generator time is excluded
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to Setups).foreach { _ =>
      if (spark != null) spark.stop()
      val t = System.nanoTime()
      spark = Main.session(args.work)
      setupS += (System.nanoTime() - t) / 1e9
    }
    tr.attach(spark)
    val gc0 = Main.gcMillis()
    val start = System.nanoTime()
    val outcome = tr.op("bench.workload") {
      w.run(spark, tr, start + (args.seconds * 1e9).toLong)
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val gcS = (Main.gcMillis() - gc0) / 1e3
    val heapMb = Main.heapAfterGcMb()
    tr.finish(spark)

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS.head, "s"),
      "cold_s" -> (outcome.coldS, "s"),
      "warm_s" -> (outcome.warmS, "s"),
      "op_p50_ms" -> (quantile(outcome.ops.toSeq, 0.5), "ms"),
      "retained_heap_mb" -> (heapMb, "MB"))
    val named = mutable.LinkedHashMap[String, (Double, String)]()
    named ++= outcome.named
    named("setup_s") = e2e("setup_s")
    named("setup_warm_s") = (median(setupS.tail.toSeq), "s")
    named("retained_heap_mb") = (heapMb, "MB")
    named("failed_ratio") = (outcome.failed.toDouble / math.max(1, outcome.attempted), "ratio")
    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    if (args.trace) {
      layer ++= Layers.report(tr, outcome, gcS, heapMb)
      if (args.spans.nonEmpty) writeSpans(tr, args.spans)
    }

    def obj(m: collection.Map[String, (Double, String)]): String = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"workload":${Json.str(args.workload)},"seed":${args.seed},""" +
      s""""attempted":${outcome.attempted},"failed":${outcome.failed},""" +
      s""""problems":${outcome.problems.map(Json.str).mkString("[", ",", "]")},""" +
      s""""wall_s":${Json.num(wallS)},"ops":${outcome.ops.size},""" +
      s""""setup_samples_s":${setupS.map(Json.num).mkString("[", ",", "]")},""" +
      s""""end_to_end":${obj(e2e)},"named":${obj(named)},"per_layer":${obj(layer)}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
