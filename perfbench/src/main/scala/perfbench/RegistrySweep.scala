package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** registry_sweep: a job-heavy query plus every 96th of the rest of
  * `SparkEntry.queries` (by name), over the fixture tables in `--data`.
  * Each query is built, planned and run
  * with one `collect()`, which executes its whole plan; pins are released
  * after every query, as `QueryDef` requires. Passes repeat until the
  * deadline, at least three: every pass must return what the first did,
  * and run.py compares the first pass with DuckDB where an oracle exists.
  * The first pass is the cold figure; a query's latency is its fastest
  * run in the later passes.
  *
  * The inputs are the fixed fixture tables, so the sweep uses no seed; the
  * cold first pass of all nine job-heavy queries of ROADMAP item 3 alone
  * takes over a minute, more than one run of the benchmark may.
  */
final class RegistrySweep(args: Main.Args) extends Workload {
  import RegistrySweep._

  private val names = select(graft.SparkEntry.queries.keySet)

  override def run(spark: SparkSession, tr: Tracer, deadlineNs: Long): Outcome = {
    val out = new Outcome
    val queries = graft.SparkEntry.queries
    val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    val passes = mutable.ArrayBuffer.empty[Double]
    val warmMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var pass = 0
    while (pass < MinPasses || System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      names.foreach { name =>
        runQuery(spark, tr, out, name, queries(name), args.data, warm = pass > 0).foreach {
          case (schema, rows, ms) =>
            if (pass > 0) warmMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
            first.get(name) match {
              case None if pass == 0 => first(name) = (schema, rows)
              case Some((_, was)) if !sameRows(was, rows) =>
                out.failed += 1
                out.problems += s"$name: pass ${pass + 1} differs from pass 1"
                System.err.println(s"[perfbench] FAILED $name: pass ${pass + 1} differs from pass 1")
              case _ =>
            }
        }
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (pass == 0) out.coldS = s
      passes += s
      pass += 1
    }
    // a query's latency is its faster warm run; the figure is their median
    out.ops.clear()
    out.ops ++= warmMs.values.map(_.min)
    out.named("query_p50_ms") = (Workload.median(out.ops.toSeq), "ms")
    out.warmS = Workload.median(passes.drop(1).toSeq)
    out.named("sweep_s") = (out.warmS, "s")
    out.named("queries") = (names.size.toDouble, "count")
    out.named("passes") = (pass.toDouble, "count")

    // the first pass's results, for the DuckDB comparison in run.py
    val oracles = graft.SparkEntry.oracleSql
    val checked = first.filter { case (n, _) => oracles.contains(n) }
    checked.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${args.work}/results/$n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${args.work}/results/oracle_sql.json"),
      checked.keys.map(n => s"${Json.str(n)}:${Json.str(oracles(n))}").mkString("{", ",", "}"))
    out
  }
}

object RegistrySweep {
  val MinPasses = 3

  /** A job-heavy query (41 jobs at bench scale) every sweep runs. */
  val Heavy: Seq[String] = Seq("q_kcore")
  val Stride = 96

  /** The heavy queries plus every `Stride`-th other name. */
  def select(all: collection.Set[String]): Seq[String] = {
    val rest = (all -- Heavy).toSeq.sorted
    Heavy.filter(all.contains) ++ rest.indices.collect { case i if i % Stride == 0 => rest(i) }
  }

  def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.indices.forall(i => a(i) == b(i))

  /** Builds, plans and runs one query and releases its pins. A query that
    * throws is counted as failed and its time is not recorded; the time of
    * a cold (first-pass) run is not recorded either, the pass's total is. */
  def runQuery(spark: SparkSession, tr: Tracer, out: Outcome, name: String,
      fn: (SparkSession, String) => DataFrame, dir: String,
      warm: Boolean = true): Option[(StructType, Array[Row], Double)] =
    tr.op(s"registry.$name") {
      val t0 = System.nanoTime()
      val result =
        try {
          val df = tr.span("registry.build")(fn(spark, dir))
          tr.span("registry.plan")(df.queryExecution.executedPlan)
          val rows = tr.span("registry.action")(df.collect())
          Right((df.schema, rows, (System.nanoTime() - t0) / 1e6))
        } catch {
          case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
        } finally {
          tr.span("registry.release")(graft.operators.GlobalOrder.release(blocking = true))
          out.pinned += spark.sparkContext.getPersistentRDDs.size
        }
      result match {
        case Right((schema, rows, ms)) =>
          out.record(name, Some(ms).filter(_ => warm), None)
          Some((schema, rows, ms))
        case Left(err) =>
          out.record(name, None, Some(err))
          None
      }
    }
}
