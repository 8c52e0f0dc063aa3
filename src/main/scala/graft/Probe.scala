package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftbridge.BusBridge
import java.util.concurrent.atomic.AtomicLong

/** Dev-only per-query probe. Runs each named query twice through
  * [[SparkEntry.run]] into one sink and prints a markdown row per query:
  * run-1 and run-2 seconds, then run 2's job, stage and task counts, so
  * the counts describe the steady state rather than parquet-footer and
  * codegen warm-up. Sinks:
  *  - `count`: `count()`, the action Bench times;
  *  - `noop`: writes every column of every row to the noop sink, so
  *    projections that `count()` would prune are paid for;
  *  - `explain`: plans the query; run 2's formatted plan is printed
  *    after its row.
  *
  * Cores come from `SPARK_GRAFT_CPUS` (default 32).
  *
  * Usage: sbt "runMain graft.Probe <count|noop|explain> <sfDir> q_a [q_b ...]"
  */
object Probe {
  private val sinks: Map[String, DataFrame => String] = Map(
    "count" -> { df => df.count(); "" },
    "noop" -> { df => df.write.format("noop").mode("overwrite").save(); "" },
    "explain" -> (_.queryExecution.explainString(ExplainMode.fromString("formatted"))))

  def main(args: Array[String]): Unit = {
    def fail(msg: String): Nothing = {
      System.err.println(msg)
      System.err.println(
        s"usage: graft.Probe <${sinks.keys.toSeq.sorted.mkString("|")}> <sfDir> q_a [q_b ...]")
      sys.exit(2)
    }
    if (args.length < 3) fail("missing arguments")
    val Array(mode, dir, names @ _*) = args
    val sink = sinks.getOrElse(mode, fail(s"unknown sink: $mode"))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown query name(s): ${unknown.mkString(", ")}")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val sc = spark.sparkContext
    val jobs, stages, tasks = new AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    // every event of a run is delivered before its counts are read, and
    // nothing runs between that read and the next run's reset
    def once(name: String): (Double, Long, Long, Long, String) = {
      Seq(jobs, stages, tasks).foreach(_.set(0L))
      val (out, sec) = SparkEntry.run(spark, name, dir)(sink)
      BusBridge.waitUntilEmpty(sc)
      (sec, jobs.get, stages.get, tasks.get, out)
    }

    println("| query | cpus | run1 s | run2 s | jobs(r2) | stages(r2) | tasks(r2) |")
    println("|---|---:|---:|---:|---:|---:|---:|")
    for (n <- names) {
      try {
        val r1 = once(n)
        val (sec, j, s, t, out) = once(n)
        println(f"| $n | $cpus | ${r1._1}%.2f | $sec%.2f | $j | $s | $t |")
        if (out.nonEmpty) println(out)
      } catch {
        case t: Throwable =>
          println(s"| $n | ERROR ${t.getClass.getSimpleName}: " +
            s"${Option(t.getMessage).getOrElse("").take(120)} |")
      }
    }
    spark.stop()
  }
}
