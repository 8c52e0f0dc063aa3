package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future}
import scala.concurrent.duration._

/** `SparkEntry.run` owns a query's pins: concurrent runs of pinning
  * queries on one session each see only their own pinned frames and
  * return what a serial run returns, and every pin is gone afterwards,
  * also when the sink throws. */
class RunnerSpec extends SparkSpec {

  // pin through withGlobalRowNumber (q_global_order) or
  // partitionedEdgeCache (the other three)
  private val pinning =
    Seq("q_global_order", "q_ppr", "q_weighted_pagerank", "q_bfs_layers")

  private def collect(name: String) =
    SparkEntry.run(spark, name, sf)(_.collect().toSeq)._1

  test("concurrent pinning queries match their serial runs and leave no cache") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val serial = pinning.map(n => n -> collect(n)).toMap
    assert(cm.isEmpty, "a serial run left cached plans")
    implicit val pool: ExecutionContextExecutorService =
      ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(pinning.size))
    val concurrent =
      try Await.result(Future.traverse(pinning)(n => Future(n -> collect(n))), 10.minutes).toMap
      finally pool.shutdown()
    for (n <- pinning) {
      assert(serial(n).nonEmpty, s"$n returned no rows")
      assert(concurrent(n) == serial(n), s"$n differs between concurrent and serial runs")
    }
    assert(cm.isEmpty, "concurrent runs left cached plans")
  }

  test("another run's release leaves a running query's pins cached") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val aPinned, bDone = new CountDownLatch(1)
    implicit val pool: ExecutionContextExecutorService =
      ExecutionContext.fromExecutorService(Executors.newSingleThreadExecutor())
    try {
      // A's sink holds its run open until B has run and released
      val a = Future(SparkEntry.run(spark, "q_global_order", sf) { df =>
        df.collect()
        aPinned.countDown()
        bDone.await(10, TimeUnit.MINUTES)
        !cm.isEmpty
      })
      try {
        assert(aPinned.await(10, TimeUnit.MINUTES), "A never reached its sink")
        SparkEntry.run(spark, "q_ppr", sf)(_.collect())
      } finally bDone.countDown()
      assert(Await.result(a, 10.minutes)._1, "B's release unpersisted A's pinned frames")
    } finally pool.shutdown()
    assert(cm.isEmpty)
  }

  test("a sink that throws after the action still releases the query's pins") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val boom = new RuntimeException("sink failed")
    val thrown = intercept[RuntimeException] {
      SparkEntry.run(spark, "q_global_order", sf) { df => df.collect(); throw boom }
    }
    assert(thrown eq boom)
    assert(cm.isEmpty, "the throwing sink left cached plans")
  }
}
