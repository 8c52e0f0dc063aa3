package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark: its generator, its ground truth against
  * graft, its span arithmetic and its failure accounting. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): java.nio.file.Path = Files.createTempDirectory("perfbench-spec")

  test("the same seed writes a byte-identical feed, another seed does not") {
    val a = Feed.xml(Feed.window(7, 0, 2000))
    val b = Feed.xml(Feed.window(7, 0, 2000))
    assert(a == b)
    assert(Feed.xml(Feed.window(8, 0, 2000)) != a)
    val keys = Truth.normalize(Feed.window(7, 0, 2000))._1
      .filter(r => r.dev.deviationId.contains(r.incidentId)).map(_.delivered).toIndexedSeq
    assert(Feed.xml(Feed.window(7, 1, 70, keys)) == Feed.xml(Feed.window(7, 1, 70, keys)))
  }

  test("the generator injects every kind of defect") {
    val (_, st) = Truth.normalize(Feed.window(3, 0, 5000))
    assert(st.parsed >= 5000)
    assert(st.expired > 0 && st.blank > 0 && st.d1Removed > 0 && st.d2Removed > 0)
    assert(st.out == st.parsed - st.expired - st.blank - st.d1Removed - st.d2Removed)
    val devs = Feed.window(3, 0, 5000).situations.flatMap(_.devs)
    assert(devs.exists(_.deviationId.isEmpty))
    assert(devs.exists(_.wkt.contains("POINT EMPTY")))
  }

  test("on a tiny feed the ground truth agrees with Pipeline.runIngest and the charts") {
    val dir = tmp()
    val target = dir.resolve("target").toString
    val base = Feed.window(11, 0, 600)
    Feed.write(base, dir.resolve("w0.xml"))
    val (rows0, st0) = Truth.normalize(base)
    var truth = Truth.upsert(Map.empty, rows0)
    val tr = new Tracer(false)
    val published = Ingest.run(spark, tr, dir.resolve("w0.xml"), target)
    assert(published.count() == st0.out)
    assert(Ingest.checkTable(spark, target, truth).isEmpty)

    val keys = rows0.filter(r => r.dev.deviationId.contains(r.incidentId))
      .map(_.delivered).toIndexedSeq
    val inc = Feed.window(11, 1, 20, keys)
    assert(inc.updatedKeys.nonEmpty && inc.redelivered == keys.size)
    Feed.write(inc, dir.resolve("w1.xml"))
    truth = Truth.upsert(truth, Truth.normalize(inc)._1)
    val table = Ingest.run(spark, tr, dir.resolve("w1.xml"), target)
    assert(Ingest.checkTable(spark, target, truth).isEmpty)

    val view = Ingest.baseView(spark, tr, table)
    var state = ChartSet.State()
    Interactions.Script.indices.foreach { i =>
      state = Interactions.change(i, state)
      val (_, problems) = ChartSet.run(tr, view,  state,
        ChartSet.expect(Truth.baseView(truth.values), state), "dashboard.charts")
      assert(problems.isEmpty, s"$state")
    }
    view.unpersist()
  }

  test("self time is a span's duration minus its direct children's") {
    val spans = Seq(
      Span(0, "bench.workload", -1, 0, 0, 100),
      Span(1, "ingest.run", 0, 0, 10, 40),
      Span(2, "dashboard.refresh", 0, 0, 50, 90),
      Span(3, "dashboard.kpis", 2, 0, 55, 65),
      Span(4, "dashboard.tableView", 2, 0, 70, 85))
    val self = Span.selfNs(spans)
    assert(self == Map(0 -> 30L, 1 -> 30L, 2 -> 15L, 3 -> 10L, 4 -> 15L))
    assert(self.values.sum == 100L)
  }

  test("self times per layer add up to the wall, an ingest span split by its probes") {
    val spans = Seq(
      Span(0, "bench.workload", -1, -1, 0, 1000),
      Span(1, "bench.window.1", 0, 0, 0, 600),
      Span(2, "ingest.run", 1, 0, 10, 410),
      Span(3, "dashboard.refresh", 1, 0, 420, 590),
      Span(4, "probe.scan", 1, 0, 590, 600),
      Span(5, "bench.replay", 0, 1, 600, 1000),
      Span(6, "ingest.run", 5, 1, 610, 700))
    // the second ingest's probes took longer than it did: clamped
    val layers = Layers.selfByLayer(spans, Map(2 -> (100L, 250L), 6 -> (60L, 120L)))
    assert(layers == Map("bench" -> (20L + 310L), "sources" -> (100L + 60L),
      "pipeline" -> (150L + 30L), "publish" -> 150L, "dashboard" -> 170L, "probe" -> 10L))
    assert(layers.values.sum == 1000L)
    assert(layers.keySet.subsetOf(Layers.SpanLayers.toSet))
  }

  test("a query that throws is counted as failed and is not timed") {
    val out = new Outcome
    val tr = new Tracer(false)
    val ok = RegistrySweep.runQuery(spark, tr, out, "q_ok", (s, _) => s.range(3).toDF(), "")
    val bad = RegistrySweep.runQuery(spark, tr, out, "q_bad",
      (_, _) => throw new IllegalStateException("boom"), "")
    assert(ok.exists(_._2.length == 3))
    assert(bad.isEmpty)
    assert(out.attempted == 2 && out.failed == 1)
    assert(out.ops.size == 1)
    assert(out.problems.exists(_.contains("q_bad")))
  }

  test("a traced span attributes its Spark jobs and cached reads") {
    val tr = new Tracer(true)
    tr.attach(spark)
    val df = spark.range(1000).toDF("id").cache()
    tr.span("dashboard.fill")(df.count())
    tr.span("dashboard.read")(df.where("id > 10").collect())
    tr.finish(spark)
    df.unpersist()
    val Seq(fill, read) = tr.all
    assert(tr.workOf(fill.id).jobs >= 1 && tr.workOf(read.id).jobs >= 1)
    assert(tr.workOf(read.id).cachedActions == 1)
  }
}
