package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver calls with exactly (sfDir, outDir); any further args are a
    // local-iteration filter of query names to dump (subset re-verify)
    val Array(sfDir, outDir, only @ _*) = args
    val unknown = only.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s) in filter: ${unknown.toSeq.sorted.mkString(", ")}")
    val wanted: String => Boolean =
      if (only.isEmpty) _ => true else only.toSet
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.keys.filter(wanted).foreach { name =>
      try SparkEntry.run(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
