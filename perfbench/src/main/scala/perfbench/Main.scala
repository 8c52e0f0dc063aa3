package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. run.py builds it and launches
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --data <dir> --out <result.json>
  *                  [--spans <spans.jsonl>]
  * }}}
  *
  * One process, one `local[nproc]` session, one client thread. The JVM
  * writes its measurements and check outcome to `--out`; run.py adds the
  * registry's DuckDB comparison and prints the result line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, out: String, spans: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.getOrElse("data", ""), need("out"),
      m.getOrElse("spans", ""))
  }

  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftRuntime.ensure(spark)
    spark
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after forced full collections, in MB: the least of five
    * readings, so that an allocation racing one reading does not count. */
  def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w: Workload = args.workload match {
      case "etl_cycle" => new EtlCycle(args)
      case "registry_sweep" => new RegistrySweep(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new java.io.File(args.out)
    var code = 1
    try {
      val report = Workload.measure(w, args)
      java.nio.file.Files.writeString(out.toPath, report)
      code = 0
    } catch {
      case t: Throwable =>
        t.printStackTrace()
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
    }
    System.exit(code)
  }
}
