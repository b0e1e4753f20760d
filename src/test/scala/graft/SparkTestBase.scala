package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local JVM-wide SparkSession keeps
  * `sbt test` fast (session startup dominates at test scale). Small core +
  * shuffle-partition counts: these tests verify semantics, not throughput.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** `body`'s result and the number of Spark jobs started while it ran.
    * Listener events arrive asynchronously, so after `body` one marker job
    * is run and awaited: the bus delivers in order, so once the marker's
    * start is seen every earlier job start has been counted. The marker
    * itself is not counted. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val markerKey = "graft.test.jobsDuring.marker"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(markerKey) != null))
          drained.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(markerKey, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(markerKey, null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    // test fixtures are per-run temp corpora, so the landed-state root is
    // per-JVM too (set BEFORE first Landing use; suites share this JVM)
    sys.props.getOrElseUpdate("graft.state.dir", java.nio.file.Files
      .createTempDirectory("graft_test_state_").toString)
    Sessions.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
