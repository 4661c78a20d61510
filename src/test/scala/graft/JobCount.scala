package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts: every job posted between two
  * listener-bus drains, so a job started on a helper thread (a
  * broadcast, a file listing) counts too. Suites run one at a time in
  * the test JVM, so no other test's jobs land in the window.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      TestBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
