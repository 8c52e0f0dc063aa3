package graft

import org.apache.spark.sql.SparkSession

/** Idempotent, thread-safe session wiring for graft's Catalyst
  * extensions on sessions the library does NOT build itself (the
  * driver's Verify/Bench sessions, a user's existing session).
  *
  * `.withExtensions(new GraftExtensions)` on the session builder remains
  * the preferred build-time path; this is the live-session equivalent,
  * using `spark.experimental` (strategies + extraOptimizations) because
  * `SparkSessionExtensions` cannot be installed after session build.
  *
  * All registration goes through one global lock: `extraStrategies` /
  * `extraOptimizations` are plain vars on the session, so an
  * unsynchronized check-then-append from two threads could
  * double-register or lose a write (leaving a TopKPerGroup node the
  * planner can't plan).
  */
object GraftRuntime {
  private val lock = new Object

  def ensure(spark: SparkSession): Unit = lock.synchronized {
    if (!spark.experimental.extraStrategies.contains(plans.GroupTopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.GroupTopKStrategy
    if (!spark.experimental.extraOptimizations.contains(plans.GroupTopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.GroupTopKRewrite
  }
}
