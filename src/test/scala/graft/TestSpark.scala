package graft

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one per suite; we share
  * across suites since sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Engine.session(cores = 8, appName = "graft-test")
  val SfDir = "/root/testdata/sf0.001"

  /** Runs `body` and counts the Spark jobs it launched. Only jobs carrying
    * this call's local-property tag count, so a stream left running by
    * another suite cannot leak into the tally. */
  def jobsDuring[T](session: SparkSession)(body: => T): (T, Int) = {
    val sc = session.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, tag)
    try {
      val r = body
      GraftListenerBridge.waitUntilListenerBusEmpty(sc)
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(l)
    }
  }
}
