package graft

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.batchSession("local[4]", "4")
    .appName("graft-test")
    .withExtensions(new graft.functions.GraftExtensions)
    .getOrCreate()

  /** Fixture dir as a plain filesystem path (forked tests run in the
    * repo root; classpath URLs can be jar-internal, which Spark's file
    * sources can't read).
    */
  def fixtureDir: String = new java.io.File("src/test/resources/k8s")
    .getAbsolutePath

  /** `body`'s result and the number of Spark jobs started while it ran
    * whose properties (job group, description, ...) satisfy `counted`.
    * A marker job closes the count: a listener gets events in order, so
    * once the marker's start has arrived every job `body` started has
    * been seen.
    */
  def jobsWhere[T](counted: Properties => Boolean)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"job-count-marker-${System.nanoTime()}"
    val n = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("spark.job.description") == marker)
            markerSeen.countDown()
          else if (counted(p)) n.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, TimeUnit.SECONDS),
        "marker job never reached the listener")
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
